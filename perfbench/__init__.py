"""Layered benchmark for tscan_spark (see README.md)."""
