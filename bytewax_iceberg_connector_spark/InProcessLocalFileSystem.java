package bytewax_iceberg_connector_spark;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem with chmod and the link-status
 * lookup done inside the JVM. Without libhadoop, RawLocalFileSystem starts a
 * {@code chmod} child process for every setPermission (each mkdir and file
 * create) and a {@code readlink} child process for every getFileLinkStatus
 * (each FileContext rename). Sticky-bit modes and real symlinks still go
 * through Hadoop's own code.
 *
 * <p>Registered as {@code fs.file.impl}; {@link Context} is the FileContext
 * twin ({@code fs.AbstractFileSystem.file.impl}), shaped like Hadoop's
 * {@code LocalFs}.
 */
public class InProcessLocalFileSystem extends LocalFileSystem {
  public InProcessLocalFileSystem() {
    super(new Raw());
  }

  /** Hive's ProxyLocalFileSystem rule, which otherwise owns {@code file:}:
   *  a rename onto an existing file returns false. */
  @Override
  @SuppressWarnings("deprecation")  // isFile, as ProxyLocalFileSystem has it
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      int mode = permission.toShort();
      Set<PosixFilePermission> perms =
          EnumSet.noneOf(PosixFilePermission.class);
      // declared OWNER_READ .. OTHERS_EXECUTE, i.e. mode bits 0400 .. 0001
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          perms.add(bit);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    @Override
    public FileStatus getFileLinkStatus(Path p) throws IOException {
      return Files.isSymbolicLink(pathToFile(p).toPath())
          ? super.getFileLinkStatus(p) : getFileStatus(p);
    }
  }

  /** The FileContext filesystem: checksums over {@link Raw}. */
  public static class Context extends ChecksumFs {
    public Context(URI uri, Configuration conf)
        throws IOException, URISyntaxException {
      super(new RawContext(conf));
    }
  }

  static class RawContext extends DelegateToFileSystem {
    RawContext(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
