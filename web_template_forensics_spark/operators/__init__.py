"""Dataflow operators: spatial joins, tiles, dedup, matching, the cascade."""
