"""Crawl plans: distributed URL frontier, URL-seen filter, wave loop."""
