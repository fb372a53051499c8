"""Layered benchmark for the engine's three user jobs (see ``run.py``)."""
