"""Benchmark of the MEDLINE-to-KG chain and the near-dup index (see README.md)."""
