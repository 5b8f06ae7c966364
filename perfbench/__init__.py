"""Seeded, oracle-checked benchmark of the MapReduce engine (see README.md)."""
