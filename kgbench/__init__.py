"""tripleforge benchmark (see README.md)."""
