"""Layered benchmark of the readmission engine (see run.py)."""
