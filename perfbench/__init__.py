"""pages→clusters benchmark of the dedup engine (see README.md)."""
