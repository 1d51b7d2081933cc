"""Crawl-engine benchmark; the entry point is ``crawlbench/run.py``."""
