"""Benchmark of the tinymr_spark engine; see README.md."""
