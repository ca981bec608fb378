"""MapReduce-job benchmark (see README.md)."""
