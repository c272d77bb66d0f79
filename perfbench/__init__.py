"""Layered benchmark of the isoline engine (see perfbench/README.md)."""
