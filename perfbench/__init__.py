"""Warm, oracle-checked benchmark of the KG-construction build (see README.md)."""
