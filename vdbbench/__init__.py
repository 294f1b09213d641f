"""Closed-loop benchmark of the vector-DB engine's public verbs.

Run ``python3 vdbbench/run.py --help`` from the repository root; see
``vdbbench/README.md`` for workloads, metrics and the layer map.
"""
