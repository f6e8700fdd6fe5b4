"""Input sources: the pages corpus as a batch table scan."""
