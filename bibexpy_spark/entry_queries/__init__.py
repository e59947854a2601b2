"""Operators left from the removed 50-query contract registry.

Only ``training`` remains; it goes with the training code (ROADMAP item
4(b)).
"""
