"""brooklin-spark benchmark: see README.md and run.py."""
