"""Seeded benchmark for full_lattice_search_spark (see README.md)."""
