"""Operator library.

The layout tree in ``README.md`` lists every module with one line on
what it holds.
"""
