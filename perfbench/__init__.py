"""Seeded benchmark of the langid + quality-filter engine; see run.py."""
