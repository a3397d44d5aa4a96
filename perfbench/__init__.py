"""Crawl and query benchmark for crawlspark; see README.md."""
