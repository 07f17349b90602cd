"""Lance engine benchmark (see README.md)."""
