"""Synthetic pages, media and project-pair sources plus the lineage catalog."""
