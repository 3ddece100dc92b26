"""Write path: the atomic keyed Parquet table (``atomic.AtomicParquetTable``)."""
