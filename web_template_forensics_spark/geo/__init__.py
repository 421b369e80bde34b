"""Hierarchical cell index (WGQ spec) and the polygon model, pure numpy."""
