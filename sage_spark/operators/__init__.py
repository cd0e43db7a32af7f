"""Spark DataFrame operators of the engine.

extraction      stage 1+3: byte-deterministic page text + the claim kernel
canonicalize    stage 4: batch fact mutations (K1-K6) via cogrouped replay
chunking        stage 2: word-budget chunking + summaries + embeddings
linking         join-based entity linking (J4/J5) — salted broadcast + LSH blocking
components      connected-components canonicalization (K7)
dedup           exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding near-dup
similarity      cosine top-k (brute force + LSH-bucketed ANN)
textstats       language-id, quality scoring, token counting, fingerprinting
multimodal      binary-column decode/feature plumbing (decoders stubbed)
"""
