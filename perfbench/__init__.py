"""Closed-loop benchmark of the warehouse engine; see README.md."""
