"""Closed-loop benchmark of the engine's public API; see README.md."""
