"""The crawl-engine benchmark (see README.md)."""
