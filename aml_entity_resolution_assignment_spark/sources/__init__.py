"""Readers and writers: the seeded page generator, parquet/Iceberg IO,
WARC/WAT and the wiki dump. Import each submodule directly."""
