"""Operator library: every operator is a ``DataFrame -> DataFrame`` function.

Modules:
- ``parity``     — the reference's own dataflow (R1-R9, SURVEY.md section 2.1)
- ``relational`` — joins/aggregations/windows/setops (section 2.2)
- ``dedup``      — exact + near-duplicate detection (MinHash-LSH, SimHash, n-gram)
- ``similarity`` — embedding similarity: exact brute-force top-k, near-dup pairs
- ``ivf``        — persisted centroid-IVF ANN index: build, probe, maintenance
- ``text``       — language-ID, quality scoring, token counting, fingerprinting
- ``multimodal`` — opaque binary media columns with typed metadata
"""
