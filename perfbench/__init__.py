"""Closed-loop CDC benchmark of the engine; see README.md."""
