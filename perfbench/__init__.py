"""Seeded, layered benchmark of the clustering engine; see run.py."""
