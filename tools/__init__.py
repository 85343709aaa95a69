"""Repo tooling (oracle gate, plan dumps, sf1 data generator, A/B bench).

A package so `bench.py` and tests can import shared helpers
(`tools.ab_bench.ensure_worktree`) instead of duplicating them.
"""
