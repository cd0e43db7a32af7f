"""Spark DataFrame operators of the engine.

KG pipeline (stages 1-4) and its maintenance:
extraction      stage 1+3: byte-deterministic page text + the claim kernel
chunking        stage 2: word-budget chunking + summaries + embeddings
canonicalize    stage 4: batch fact mutations (K1-K6) via cogrouped replay
linking         join-based entity linking (J4/J5) — salted broadcast + LSH blocking
components      connected-components canonicalization (K7)
incremental     fact diff, impact radius, re-embed targets
insight         message-insight evidence assembly + display decoration
retrieval       read-side retrieval (R1-R9) over the materialized graph

Graph analytics over the entity mention graph:
graph           one-hop expansion, evidence views, undirected adjacency, until-stable loop
pagerank        PageRank and personalized PageRank (one power iteration)
communities     label-propagation communities + k-core numbers
triangles       co-mention graph + triangle counts / clustering coefficient
chat            chat/conversation graph, read state + message access

Training-data and corpus operators:
dedup           exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding near-dup
similarity      cosine top-k (brute force + LSH-bucketed ANN + IVF)
textstats       language-id, quality, tokens, fingerprints, PII redaction, repetition
boilerplate     site-level boilerplate line removal
urlops          URL canonicalization + registered-domain extraction
corpus          deterministic/stratified sampling, profiles, mixture weights, caps
decontam        benchmark decontamination by shared n-grams
packing         sequence packing for training batches
multimodal      binary-column decode/feature plumbing (decoders stubbed)

Relational building blocks:
rollup          events-table aggregates: hypertable rollups + sessionization
temporal_joins  as-of join and binned range join
bucketing       bucketed table layout for shuffle-free co-located joins
spread          input-spread guard for per-row-CPU-heavy operators
"""
