"""Benchmark of the bravo_spark snapshot engine; see README.md here."""
