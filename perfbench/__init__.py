"""End-to-end benchmark of the archive's ingest -> sink -> decode -> serve path.

See README.md in this directory for the workloads, metrics and how to run.
"""
