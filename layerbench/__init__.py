"""Layered benchmark of the search engine; see README.md."""
