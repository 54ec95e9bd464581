"""Index builds, the on-disk store and its readers (see store.py)."""
