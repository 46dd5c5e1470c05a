"""Crawl-and-parse benchmark for hepcrawl_spark; entry point ``run.py``."""
