"""Library of the repository benchmark; `bench/run.py` is its entry point."""
