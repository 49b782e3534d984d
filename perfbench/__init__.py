"""Lake benchmark for the bytewax_iceberg_connector_spark engine; see run.py."""
