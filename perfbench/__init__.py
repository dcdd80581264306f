"""Seeded, closed-loop benchmark of the readstat engine.

``run.py`` is the entry point; README.md defines the workloads, the
metrics and how to run them.
"""
