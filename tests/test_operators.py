"""Unit tests for the training-data operators: dedup families, similarity
search, text stats, linking, connected components, multimodal plumbing."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sage_spark.kernel.embed import hash_embedding
from sage_spark.operators.components import canonical_entity_components, connected_components
from sage_spark.operators.dedup import (
    cluster_dedup,
    embedding_near_duplicates,
    exact_dedup,
    exact_duplicates,
    minhash_lsh_candidates,
    minhash_signature_wide,
    near_dup_clusters,
    ngram_jaccard_pairs,
    with_simhash,
)
from sage_spark.operators.linking import link_mentions_exact, link_mentions_lsh
from sage_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_audio_features,
    extract_image_features,
)
from sage_spark.operators.similarity import cosine_topk, ivf_topk, lsh_topk
from sage_spark.operators.textstats import with_fingerprint, with_language_id, with_quality_stats

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog and runs into the forest."),
    (2, "The quick brown fox jumps over the lazy dog and runs into the woods."),  # near-dup of 1
    (3, "the   QUICK brown fox jumps over the lazy dog and runs into the forest."),  # exact dup of 1 (norm)
    (4, "Completely different content about database engines and query planners."),
    (5, "Der Hund läuft nicht mit der Katze und das ist ein Problem für die Gruppe."),
    (6, "Le chat est dans la maison et les enfants sont pour une fois dans le jardin."),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_exact_dedup(spark, docs_df):
    groups = exact_duplicates(docs_df, "text", "doc_id").collect()
    assert len(groups) == 1
    assert sorted(groups[0]["doc_ids"]) == [1, 3]
    kept = {r["doc_id"] for r in exact_dedup(docs_df, "text", "doc_id").collect()}
    assert kept == {1, 2, 4, 5, 6}


def test_minhash_similar_docs_share_buckets(spark, docs_df):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs_df, bands=16, num_hashes=64).collect()}
    assert (1, 3) in pairs  # identical after normalization
    assert (1, 2) in pairs  # near-dup
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_minhash_bucket_truncation_observable_and_recoverable(spark):
    """Pathological boilerplate corpus: identical docs all land in one bucket
    per band. The cap must (a) report how much it dropped via the Observation
    side-channel and (b) recover the pairs when raised."""
    from pyspark.sql import Observation

    n_docs = 6
    rows = [(i, "the same boilerplate footer text appears on every page of this site") for i in range(n_docs)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    obs = Observation("lsh_truncation")
    pairs_capped = minhash_lsh_candidates(
        docs, "text", "doc_id", bands=16, num_hashes=64, max_bucket_size=4, observation=obs
    ).collect()
    # 4 of 6 members survive per bucket -> C(4,2)=6 distinct pairs
    assert len(pairs_capped) == 6
    assert obs.get["truncated_buckets"] == 16  # every band's bucket was over the cap
    assert obs.get["dropped_pairs"] == 16 * (15 - 6)  # C(6,2)-C(4,2) per band

    obs2 = Observation("lsh_truncation_ok")
    pairs_full = minhash_lsh_candidates(
        docs, "text", "doc_id", bands=16, num_hashes=64, max_bucket_size=16, observation=obs2
    ).collect()
    assert len(pairs_full) == 15  # raising the cap recovers C(6,2)
    assert obs2.get["truncated_buckets"] == 0
    assert obs2.get["dropped_pairs"] == 0


def test_minhash_signature_deterministic(spark, docs_df):
    mh = [f"mh_{i}" for i in range(64)]
    a = minhash_signature_wide(docs_df).orderBy("doc_id").select(mh).collect()
    b = minhash_signature_wide(docs_df.repartition(5)).orderBy("doc_id").select(mh).collect()
    assert a == b


def _minhash_signature_native(df, text_col, id_col, *, shingle_len=5, num_hashes=64):
    """The all-JVM MinHash signature, kept here as the oracle for the Arrow
    kernel: explode shingles -> one xxhash per shingle row -> ONE groupBy
    with num_hashes min() aggregates over the (a*x+b) mod 2^31-1 family."""
    from sage_spark.kernel.minhash import MERSENNE31, hash_family
    from sage_spark.operators.textstats import char_ngrams

    shingle_rows = df.select(
        F.col(id_col), F.explode(F.array_distinct(char_ngrams(F.col(text_col), shingle_len))).alias("__sh")
    ).select(F.col(id_col), F.pmod(F.xxhash64("__sh"), F.lit(MERSENNE31)).alias("__h"))
    aggs = []
    for i in range(num_hashes):
        a, b = hash_family(i)
        aggs.append(F.min((F.col("__h") * F.lit(a) + F.lit(b)) % MERSENNE31).alias(f"mh_{i}"))
    return shingle_rows.groupBy(id_col).agg(*aggs)


def test_minhash_arrow_matches_native_jvm(spark, docs_df):
    """The Arrow signature kernel must be bit-identical to the all-JVM
    explode+agg form — on the fixture corpus AND on adversarial rows:
    sub-shingle-length docs, empty text, unicode whitespace (U+00A0 must
    NOT collapse — Java \\s is ASCII-only), multi-byte letters (serial
    fallback path), duplicate-heavy text."""
    from pyspark.sql import functions as F

    tricky = spark.createDataFrame(
        [
            (101, ""),
            (102, "ab"),
            (103, "exact"),
            (104, "x\xa0y has a no-break space neighbor"),
            (105, "ünicode straße text with müLTI-byte letters"),
            (106, "spam " * 200),
            (107, "Tabs\tand\nnewlines\x0band\fforms\rcollapse"),
        ],
        "doc_id int, text string",
    )
    df = docs_df.select("doc_id", "text").unionByName(tricky)
    arrow = minhash_signature_wide(df, "text", "doc_id").orderBy("doc_id").collect()
    native = _minhash_signature_native(df, "text", "doc_id").orderBy("doc_id").collect()
    assert [tuple(r) for r in arrow] == [tuple(r) for r in native]
    # shingles >= 32 bytes exceed the vectorized XXH64's short-input path;
    # the kernel must route them to the serial walk, not assert
    wide_a = minhash_signature_wide(df, "text", "doc_id", shingle_len=40, num_hashes=8)
    wide_n = _minhash_signature_native(df, "text", "doc_id", shingle_len=40, num_hashes=8)
    assert [tuple(r) for r in wide_a.orderBy("doc_id").collect()] == [
        tuple(r) for r in wide_n.orderBy("doc_id").collect()
    ]


def test_minhash_arrow_plan_is_mapside(spark, docs_df):
    """The Arrow signature must run as a vectorized mapInPandas stage with
    no shuffle of its own: exactly the input-spread Exchange (if any) and
    never a row-at-a-time BatchEvalPython."""
    from sage_spark.operators.dedup import minhash_signature_wide

    plan = minhash_signature_wide(docs_df, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    # the native form's signature aggregate shuffles on doc_id; the kernel
    # form must not introduce any aggregate exchange
    assert "HashAggregate" not in plan


def test_ngram_jaccard(spark, docs_df):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs_df, threshold=0.5).collect()}
    assert pairs[(1, 3)] == 1.0
    assert 0.5 <= pairs[(1, 2)] < 1.0
    assert (1, 4) not in pairs


def test_simhash_close_for_near_dups(spark, docs_df):
    rows = {r["doc_id"]: r["simhash"] for r in with_simhash(docs_df).collect()}
    assert rows[1] == rows[3]

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(rows[1], rows[2]) < hamming(rows[1], rows[4])


def test_embedding_near_duplicates_and_topk(spark):
    vecs = [
        (i, [float(v) for v in hash_embedding(f"doc {i // 2}", 16)])  # pairs (0,1),(2,3) share vectors
        for i in range(6)
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    dups = {(r["id_a"], r["id_b"]) for r in embedding_near_duplicates(df, threshold=0.99, id_col="vec_id").collect()}
    assert dups == {(0, 1), (2, 3), (4, 5)}

    query = [float(v) for v in hash_embedding("doc 1", 16)]
    top = cosine_topk(df, query, k=2).collect()
    assert {r["vec_id"] for r in top} == {2, 3}
    assert top[0]["similarity"] == pytest.approx(1.0)


def test_lsh_and_ivf_topk_agree_with_exact(spark):
    vecs = [(i, [float(v) for v in hash_embedding(f"v{i}", 32)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    query = [float(v) for v in hash_embedding("v17", 32)]
    exact = [r["vec_id"] for r in cosine_topk(df, query, k=1).collect()]
    approx = [r["vec_id"] for r in lsh_topk(df, query, k=1, n_planes=6, multiprobe_hamming=2).collect()]
    assert exact == [17]
    assert approx == [17]  # the exact-match vector lands in the query's bucket
    ivf = [r["vec_id"] for r in ivf_topk(df, query, k=1, n_cells=8, n_probe=8).collect()]
    assert ivf == [17]  # n_probe == n_cells -> exhaustive, must equal exact


def test_ivf_centroid_fit_partition_independent_and_persistable(spark):
    """The centroid fit must be deterministic under any input partitioning
    (hash prefilter, not first-arriving rows), and a persisted centroid list
    must reproduce the fitted path exactly (the run-once-at-100TB path)."""
    vecs = [(i, [float(v) for v in hash_embedding(f"v{i}", 32)]) for i in range(300)]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    query = [float(v) for v in hash_embedding("v42", 32)]

    a = [(r["vec_id"], r["similarity"]) for r in ivf_topk(df.repartition(1), query, k=5, n_cells=8, n_probe=4).collect()]
    b = [(r["vec_id"], r["similarity"]) for r in ivf_topk(df.repartition(13), query, k=5, n_cells=8, n_probe=4).collect()]
    assert a == b

    # persisted-centroid path: hand the fit's output back in, same result
    from pyspark.sql import functions as F

    fitted = (
        df.withColumn("__h", F.xxhash64(F.col("vec_id").cast("string")))
        .filter(F.pmod("__h", F.lit(16)) == 0)
        .orderBy("__h")
        .limit(8)
        .collect()
    )
    cents = [list(map(float, r["embedding"])) for r in fitted]
    c = [(r["vec_id"], r["similarity"]) for r in ivf_topk(df, query, k=5, n_cells=8, n_probe=4, centroids=cents).collect()]
    assert a == c


def test_language_id(spark, docs_df):
    rows = {r["doc_id"]: r["lang_pred"] for r in with_language_id(docs_df, "text").collect()}
    assert rows[1] == "en" and rows[4] == "en"
    assert rows[5] == "de"
    assert rows[6] == "fr"


def test_marker_hits_regexp_count_matches_token_membership(spark):
    """The single-pass regexp_count form of _marker_hits must count exactly
    the ASCII [a-z]+ tokens that are marker words — pinned against the
    tokenize-then-filter reference form on adversarial inputs (digit/ünicode
    neighbors, punctuation, overlapping words, empty text)."""
    from pyspark.sql import functions as F

    from sage_spark.operators.textstats import _LANG_MARKERS, _marker_hits

    texts = [
        "the and of to is in that it for was",      # all ten en markers
        "The THE tHe",                               # case folding
        "1the1 xthex a-the-b über the",              # digit/alpha/unicode neighbors
        "für der die und das",                       # de incl. the non-ASCII marker
        "an and land the theory other",              # overlap/substring traps
        "",                                          # empty
        "no markers here whatsoever",
        "el la los y es una para en que no",         # es (en/es share words)
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")

    def reference_hits(col, words):
        tokens = F.regexp_extract_all(F.lower(col), F.lit("[a-z]+"), F.lit(0))
        return F.size(F.filter(tokens, lambda t: t.isin(words)))

    for lang, words in _LANG_MARKERS.items():
        got = df.select("doc_id", _marker_hits(F.col("text"), words).alias("n")).collect()
        want = df.select("doc_id", reference_hits(F.col("text"), words).alias("n")).collect()
        assert {r["doc_id"]: r["n"] for r in got} == {r["doc_id"]: r["n"] for r in want}, lang


def test_count_forms_match_materializing_forms(spark):
    """token_count / alpha / upper / punct as regexp_count must equal the
    array- and string-materializing reference forms on edge-case rows."""
    from pyspark.sql import functions as F

    from sage_spark.operators.textstats import TOKEN_PATTERN, token_count

    texts = ["", "   ", "a", "A1b2 C3!?", "über straße", "..,,;;::!!??", "word " * 50, "123 456"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    col = F.col("text")
    got = df.select(
        "doc_id",
        token_count(col).alias("toks"),
        F.regexp_count(col, F.lit("[A-Za-z]")).alias("alpha"),
        F.regexp_count(col, F.lit("[A-Z]")).alias("upper"),
        F.regexp_count(col, F.lit("[.,;:!?]")).alias("punct"),
    ).collect()
    want = df.select(
        "doc_id",
        F.size(F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), F.lit(0))).alias("toks"),
        F.length(F.regexp_replace(col, "[^A-Za-z]", "")).alias("alpha"),
        F.length(F.regexp_replace(col, "[^A-Z]", "")).alias("upper"),
        F.length(F.regexp_replace(col, "[^.,;:!?]", "")).alias("punct"),
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_quality_stats_bounds(spark, docs_df):
    rows = with_quality_stats(docs_df, "text").collect()
    for r in rows:
        assert 0.0 <= r["alpha_ratio"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0
        assert r["n_tokens"] > 0


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([(1, "A  B\tC"), (2, "a b c")], "doc_id int, text string")
    rows = with_fingerprint(df).collect()
    assert rows[0]["fingerprint"] == rows[1]["fingerprint"]


def test_connected_components_two_islands(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("s", "s"), ("n", None), (None, "m")],
        "src string, dst string",
    )
    comp = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["a"] != comp["x"]
    # a vertex whose only edge is a self-loop is a component of its own;
    # an edge with a null endpoint contributes no vertex at all
    assert comp["s"] == "s"
    assert set(comp) == {"a", "b", "c", "x", "y", "s"}


def _cc_map(df) -> dict:
    return {r["vertex"]: r["component"] for r in df.collect()}


def test_incremental_components_equals_full_recompute(spark):
    """Property: incremental_components(CC(base), delta) == CC(base ∪ delta)
    across randomized edge sets and split points (seeded)."""
    import random

    from sage_spark.operators.components import incremental_components

    rng = random.Random(7)
    for trial in range(4):
        n = 18
        all_edges = sorted(
            {
                (f"v{rng.randrange(n):02d}", f"v{rng.randrange(n):02d}")
                for _ in range(22)
            }
        )
        cut = rng.randrange(1, len(all_edges))
        base, delta = all_edges[:cut], all_edges[cut:]
        schema = "src string, dst string"
        base_df = spark.createDataFrame(base, schema)
        delta_df = spark.createDataFrame(delta, schema)
        full = _cc_map(connected_components(spark.createDataFrame(all_edges, schema)))
        inc = _cc_map(incremental_components(connected_components(base_df), delta_df))
        assert inc == full, f"trial {trial}: split at {cut}"


def test_incremental_components_empty_delta_is_noop(spark):
    from sage_spark.operators.components import incremental_components

    base = spark.createDataFrame([("a", "b"), ("c", "d")], "src string, dst string")
    assignments = connected_components(base)
    delta = spark.createDataFrame([], "src string, dst string")
    assert _cc_map(incremental_components(assignments, delta)) == _cc_map(assignments)


def test_incremental_components_fresh_vertices_and_merge_chain(spark):
    """A delta that (a) introduces brand-new vertices, (b) chains three
    existing components into one through a new bridge vertex, and (c)
    contains an intra-component re-confirmation edge."""
    from sage_spark.operators.components import incremental_components

    base = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("e", "f")], "src string, dst string"
    )
    assignments = connected_components(base)
    delta = spark.createDataFrame(
        [("b", "zz"), ("zz", "c"), ("zz", "e"), ("a", "b"), ("p", "q"), ("r", "r")],
        "src string, dst string",
    )
    got = _cc_map(incremental_components(assignments, delta))
    # a,b,c,d,e,f,zz all merge; min vertex is "a"
    for v in ["a", "b", "c", "d", "e", "f", "zz"]:
        assert got[v] == "a", (v, got)
    assert got["p"] == got["q"] == "p"
    assert got["r"] == "r"
    # parity with a full recompute over the union
    union = base.unionByName(delta)
    assert got == _cc_map(connected_components(union))


def test_incremental_components_chains_across_batches(spark):
    """The output satisfies the min-label invariant, so a second incremental
    batch applied on top of the first equals one full recompute."""
    from sage_spark.operators.components import incremental_components

    schema = "src string, dst string"
    base = spark.createDataFrame([("m", "n"), ("x", "y")], schema)
    d1 = spark.createDataFrame([("n", "x")], schema)  # merge the two
    d2 = spark.createDataFrame([("k", "m"), ("w", "w2")], schema)  # new min + fresh comp
    a0 = connected_components(base)
    a1 = incremental_components(a0, d1)
    a2 = incremental_components(a1, d2)
    full = connected_components(base.unionByName(d1).unionByName(d2))
    assert _cc_map(a2) == _cc_map(full)
    assert _cc_map(a2)["x"] == "k"


def test_entity_components_bridge_same_person_keys(spark):
    persons = spark.createDataFrame(
        [
            ("EMP001", "Alice Johnson", "PM", "alice@example.com", True),
            ("EMP002", "Bob Smith", "Eng", "bob@example.com", False),
        ],
        "id string, name string, role string, email string, is_user boolean",
    )
    comp = {r["vertex"]: r["component"] for r in canonical_entity_components(persons).collect()}
    assert comp["EMP001"] == comp["alice@example.com"] == comp["alice johnson"]
    assert comp["EMP002"] == comp["bob@example.com"]
    assert comp["EMP001"] != comp["EMP002"]


def test_link_mentions_exact_tiebreak(spark):
    persons = spark.createDataFrame(
        [
            ("external-george", "George Brown", "x", "", False),
            ("7", "George Brown", "y", "george@example.com", True),
            ("EMP001", "Alice Johnson", "PM", "alice@example.com", False),
        ],
        "id string, name string, role string, email string, is_user boolean",
    )
    mentions = spark.createDataFrame(
        [("m1", "George Brown"), ("m2", "alice@example.com"), ("m3", "Nobody Known")],
        "mention_id string, mention string",
    )
    out = {r["mention_id"]: r for r in link_mentions_exact(mentions, persons).collect()}
    assert out["m1"]["entity_id"] == "7" and out["m1"]["match_status"] == "resolved"
    assert out["m2"]["entity_id"] == "EMP001"
    assert out["m3"]["entity_id"] is None and out["m3"]["match_status"] == "unmatched"


def test_link_mentions_exact_salted_matches_plain(spark):
    persons = spark.createDataFrame(
        [("EMP001", "Alice Johnson", "PM", "alice@example.com", False)],
        "id string, name string, role string, email string, is_user boolean",
    )
    mentions = spark.createDataFrame(
        [(f"m{i}", "Alice Johnson") for i in range(50)], "mention_id string, mention string"
    )
    plain = sorted((r["mention_id"], r["entity_id"]) for r in link_mentions_exact(mentions, persons).collect())
    salted = sorted(
        (r["mention_id"], r["entity_id"])
        for r in link_mentions_exact(mentions, persons, salt_buckets=4, broadcast_dim=False).collect()
    )
    assert plain == salted


def test_link_mentions_lsh_fuzzy(spark):
    persons = spark.createDataFrame(
        [("EMP001", "Alice Johnson", "PM", "a@x.com", False), ("EMP002", "Bob Smith", "Eng", "b@x.com", False)],
        "id string, name string, role string, email string, is_user boolean",
    )
    mentions = spark.createDataFrame(
        [("m1", "alice johnsen"), ("m2", "bob smith")], "mention_id string, mention string"
    )
    out = {r["mention_id"]: r["entity_id"] for r in link_mentions_lsh(mentions, persons, threshold=0.3).collect()}
    assert out.get("m1") == "EMP001"
    assert out.get("m2") == "EMP002"


def test_multimodal_plumbing(spark):
    from sage_spark.datagen import synth_gif_bytes, synth_png_bytes

    media = spark.createDataFrame(
        [
            ("img-1", "d1", "image", "image/png", b"fakepng", None),
            ("img-2", "d2", "image", "image/png", synth_png_bytes(40, 30, 2), None),
            ("img-3", "d3", "image", "image/gif", synth_gif_bytes(17, 9, 3), None),
            ("vid-1", "d4", "video", "video/mp4", b"fakevid", None),
        ],
        MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r.asDict() for r in extract_image_features(media).collect()}
    assert set(feats) == {"img-1", "img-2", "img-3"}
    # unrecognized bytes fall back to the clearly-marked deterministic fake
    assert feats["img-1"]["fmt"] == "unknown" and feats["img-1"]["width"] > 0
    # real containers parse for real (pure-stdlib header decode, no Pillow)
    assert (feats["img-2"]["fmt"], feats["img-2"]["width"], feats["img-2"]["height"]) == ("png", 40, 30)
    assert feats["img-2"]["bit_depth"] == 8 and feats["img-2"]["n_channels"] == 3
    assert (feats["img-3"]["fmt"], feats["img-3"]["width"], feats["img-3"]["height"]) == ("gif", 17, 9)
    assert len(feats["img-2"]["embedding"]) == 16
    # strict mode: real containers still decode; unrecognized bytes raise
    ok = media.filter("media_id in ('img-2', 'img-3')")
    assert len(extract_image_features(ok, strict=True).collect()) == 2
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        extract_image_features(media, strict=True).collect()


def test_multimodal_single_hash_pass_matches_direct_hashes(spark):
    """r6: the kernels now hash each payload ONCE (digest.hex() for
    content_sha256) — the emitted hashes must still equal an independent
    full recomputation of the original per-field formulas, byte for byte."""
    import hashlib

    payloads = [b"fakepng", b"x" * 100_000, b""]
    media = spark.createDataFrame(
        [(f"m-{i}", "d", t, "application/octet-stream", p, None)
         for i, p in enumerate(payloads) for t in ("image", "audio", "video")],
        MEDIA_SCHEMA,
    )
    want = {f"m-{i}": hashlib.sha256(p).hexdigest() for i, p in enumerate(payloads)}
    for fn in (extract_image_features, extract_audio_features):
        got = {r["media_id"]: r["content_sha256"] for r in fn(media).collect()}
        assert got == want


def test_parse_image_header_formats_and_malformed():
    """Pure-function coverage for the stdlib header parser: PNG/GIF/JPEG/BMP
    plus malformed/truncated payloads."""
    import struct

    from sage_spark.datagen import synth_gif_bytes, synth_png_bytes
    from sage_spark.operators.multimodal import parse_image_header

    assert parse_image_header(synth_png_bytes(640, 480, 1)) == ("png", 640, 480, 8, 3)
    assert parse_image_header(synth_gif_bytes(320, 200, 1)) == ("gif", 320, 200, 8, 3)
    # minimal JPEG: SOI + APP0 stub + SOF0 (8-bit, 12x34, 3 channels)
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
        + b"\xff\xc0" + struct.pack(">H", 11) + bytes([8]) + struct.pack(">HH", 34, 12) + bytes([3, 1, 0x11, 0])
    )
    assert parse_image_header(jpeg) == ("jpeg", 12, 34, 8, 3)
    # minimal BMP header: 24bpp 10x20 (height may be negative = top-down)
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 10, -20) + b"\x00\x00" + struct.pack("<H", 24) + b"\x00" * 8
    assert parse_image_header(bmp) == ("bmp", 10, 20, 24, 3)
    # malformed payloads never raise; they return None
    for bad in (b"", b"fak", b"\x89PNG\r\n\x1a\nXX", b"GIF89a\x01", b"\xff\xd8\xff", b"BM\x00"):
        assert parse_image_header(bad) is None


def test_audio_plumbing(spark):
    """extract_audio_features mirrors the image path: real RIFF/WAVE header
    decode (pure stdlib), hash-fake fallback for unrecognized codecs,
    strict mode raising on them."""
    from sage_spark.datagen import synth_wav_bytes

    media = spark.createDataFrame(
        [
            ("aud-1", "d1", "audio", "audio/wav", synth_wav_bytes(16000, 2, 16, 120, 1), None),
            ("aud-2", "d2", "audio", "audio/mpeg", b"ID3fakemp3payload", None),
            ("img-1", "d3", "image", "image/png", b"notaudio", None),
        ],
        MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r.asDict() for r in extract_audio_features(media).collect()}
    # only audio rows reach the kernel (media_type filter, not mime sniffing)
    assert set(feats) == {"aud-1", "aud-2"}
    a1 = feats["aud-1"]
    assert (a1["fmt"], a1["sample_rate"], a1["n_channels"], a1["bit_depth"], a1["n_frames"]) == (
        "wav", 16000, 2, 16, 120,
    )
    assert a1["duration_ms"] == 120 * 1000 // 16000 and len(a1["embedding"]) == 16
    assert feats["aud-2"]["fmt"] == "unknown" and feats["aud-2"]["sample_rate"] > 0
    ok = media.filter("media_id = 'aud-1'")
    assert len(extract_audio_features(ok, strict=True).collect()) == 1
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        extract_audio_features(media, strict=True).collect()


def test_parse_audio_header_formats_and_malformed():
    """Pure-function coverage for the stdlib RIFF/WAVE parser: parameter
    grid round-trip, chunk-walk past extra chunks, word alignment,
    malformed/truncated payloads."""
    import struct

    from sage_spark.datagen import synth_audio_params, synth_audio_payload, synth_wav_bytes
    from sage_spark.operators.multimodal import parse_audio_header

    for i in range(0, 40):
        assert parse_audio_header(synth_audio_payload(i)) == ("wav",) + synth_audio_params(i), i
    # a LIST chunk before fmt/data: the walker skips it by size
    wav = synth_wav_bytes(44100, 1, 16, 77, 9)
    listed = wav[:12] + b"LIST" + struct.pack("<I", 4) + b"INFO" + wav[12:]
    assert parse_audio_header(listed) == ("wav", 44100, 1, 16, 77)
    # odd-sized data chunk is word-aligned: a chunk AFTER it still parses
    odd = synth_wav_bytes(8000, 1, 8, 33, 5)
    assert odd.index(b"data") >= 0 and (len(odd) % 2 == 0)  # pad byte present
    trailed = odd + b"LIST" + struct.pack("<I", 4) + b"INFO"
    assert parse_audio_header(trailed) == ("wav", 8000, 1, 8, 33)
    # malformed payloads never raise; they return None
    for bad in (b"", b"RIF", b"RIFFxxxxWAVE", b"RIFFxxxxAVI ", synth_audio_payload(3)[:30]):
        assert parse_audio_header(bad) is None


def test_near_dup_clusters_chain_and_survivors(spark):
    """A~B and B~C chain into ONE cluster even though (A, C) was never a
    verified pair — the whole point of cluster- over pairwise-dedup. The
    survivor is the min id per component; docs in no pair survive as
    singletons; cluster_dedup keeps exactly the survivor rows with their
    columns intact."""
    docs = spark.createDataFrame(
        [("a", "x"), ("b", "y"), ("c", "z"), ("d", "solo"), ("e", "alone")],
        "doc_id string, text string",
    )
    pairs = spark.createDataFrame([("a", "b"), ("b", "c")], "id_a string, id_b string")
    labels = {r["doc_id"]: r for r in near_dup_clusters(docs, pairs, "doc_id").collect()}
    assert len(labels) == 5
    assert labels["a"]["cluster_id"] == labels["b"]["cluster_id"] == labels["c"]["cluster_id"] == "a"
    assert labels["a"]["is_survivor"] and not labels["b"]["is_survivor"] and not labels["c"]["is_survivor"]
    for solo in ("d", "e"):
        assert labels[solo]["cluster_id"] == solo and labels[solo]["is_survivor"]
    kept = {r["doc_id"]: r["text"] for r in cluster_dedup(docs, pairs, "doc_id").collect()}
    assert kept == {"a": "x", "d": "solo", "e": "alone"}


def test_near_dup_clusters_matches_serial_union_find(spark, docs_df):
    """End-to-end over the LSH->Jaccard pipeline on the module corpus,
    cross-checked against an independent serial union-find on the same
    verified pairs."""
    docs = docs_df.withColumn("doc_id", F.col("doc_id").cast("string"))
    cands = minhash_lsh_candidates(docs, "text", "doc_id", shingle_len=5, num_hashes=64, bands=16)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", shingle_len=5, threshold=0.5, candidates=cands)
    got = {r["doc_id"]: (r["cluster_id"], r["is_survivor"])
           for r in near_dup_clusters(docs, pairs.select("id_a", "id_b"), "doc_id").collect()}

    parent: dict[str, str] = {str(i): str(i) for i, _ in DOCS}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        ra, rb = find(r["id_a"]), find(r["id_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for i, _ in DOCS:
        want = find(str(i))
        assert got[str(i)] == (want, want == str(i)), i
    # the module corpus has a real near-dup pair: assert it actually merged
    assert got["2"][0] == got["1"][0] == "1"


def test_duplicated_spans_planted_and_edges(spark):
    """Span-level dedup: a 6-token span planted in two docs (and twice in
    one of them) is flagged at every occurrence with the global count;
    is_first marks the (doc, pos)-least occurrence; docs shorter than the
    window contribute nothing; unique text is never flagged."""
    from sage_spark.operators.dedup import duplicated_spans

    boiler = "subscribe to our newsletter for weekly updates"  # 7 tokens
    docs = spark.createDataFrame(
        [
            ("d1", f"alpha beta {boiler} gamma delta"),
            ("d2", f"{boiler} unrelated tail words here now {boiler}"),
            ("d3", "completely unique sentence with no repeated window at all"),
            ("d4", "short doc"),
        ],
        "doc_id string, text string",
    )
    out = duplicated_spans(docs, "text", "doc_id", width=7, min_count=2).collect()
    hits = {(r["doc_id"], r["pos"]): r for r in out}
    # d1 pos 2, d2 pos 0, d2 pos 12: same 7-token window, 3 occurrences
    assert set(hits) == {("d1", 2), ("d2", 0), ("d2", 12)}
    assert all(r["n_occurrences"] == 3 for r in out)
    assert hits[("d1", 2)]["is_first"] and not hits[("d2", 0)]["is_first"]
    assert not hits[("d2", 12)]["is_first"]


def test_duplicated_spans_stride_and_plan(spark):
    """stride > 1 keeps only stride-aligned window starts (the explode-size
    divisor for petabyte corpora), and both span statistics come from a
    PARTIAL aggregation joined back — never a window function over the
    occurrence stream, whose hottest-span partition cannot be split
    (the r5 skew bound, removed in r6)."""
    from sage_spark.operators.dedup import duplicated_spans

    text = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [("a", text), ("b", text)], "doc_id string, text string"
    )
    out = duplicated_spans(docs, "text", "doc_id", width=4, stride=2, min_count=2).collect()
    assert {r["pos"] for r in out} == {0, 2, 4}
    plan = (
        duplicated_spans(docs, "text", "doc_id", width=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # no Window over the occurrences; the count aggregates map-side
    # (partial_count in the pre-shuffle HashAggregate), and the join back is
    # an equi-join AQE can skew-split
    assert "Window" not in plan
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan  # pure JVM


def test_clip_duplicate_spans_removes_non_first_only(spark):
    """The removal pass keeps exactly one copy of each repeated span
    corpus-wide: the first (doc, pos)-least occurrence survives, every
    other is cut from the token stream; untouched docs come through as
    their normalized token join; empty docs yield ''."""
    from sage_spark.operators.dedup import clip_duplicate_spans

    boiler = "subscribe to our newsletter for weekly updates"
    docs = spark.createDataFrame(
        [
            ("d1", f"alpha beta {boiler} gamma delta"),
            ("d2", f"{boiler} unrelated tail words here now {boiler}"),
            ("d3", "Unique Sentence, with punctuation!"),
            ("d4", ""),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r["text_clipped"]
           for r in clip_duplicate_spans(docs, "text", "doc_id", width=7).collect()}
    assert out["d1"] == f"alpha beta {boiler} gamma delta"  # first occurrence kept
    assert out["d2"] == "unrelated tail words here now"  # both non-first copies cut
    assert out["d3"] == "unique sentence with punctuation"  # normalized token join
    assert out["d4"] == ""
    # overlap union: two overlapping duplicated windows clip as one region
    o1 = "zero one two three four five six seven eight nine"
    docs2 = spark.createDataFrame(
        [("a", o1), ("b", o1), ("c", "x y " + o1)], "doc_id string, text string"
    )
    out2 = {r["doc_id"]: r["text_clipped"]
            for r in clip_duplicate_spans(docs2, "text", "doc_id", width=4).collect()}
    assert out2["a"] == o1  # every window's first occurrence lives in 'a'
    assert out2["b"] == "" and out2["c"] == "x y"


def test_mix_to_weights_exact_mixture(spark):
    """Token-mixture sampling: kept mass per stratum lands within hash
    noise of the target proportions, the binding stratum keeps (nearly)
    everything, unlisted strata are dropped, and the integer thresholds
    match a serial replay of the same BIGINT arithmetic."""
    import hashlib

    from sage_spark.operators.corpus import mix_to_weights

    rows = []
    # masses: a=30k, b=60k, c=90k, d=20k tokens (100 docs each, uniform)
    for src, per_doc in (("a", 300), ("b", 600), ("c", 900), ("d", 200)):
        for i in range(100):
            rows.append((f"{src}{i}", src, per_doc))
    df = spark.createDataFrame(rows, "doc_id string, source string, n_tokens long")
    weights = {"a": 500_000, "b": 300_000, "c": 200_000}
    out = mix_to_weights(df, weights, mass_col="n_tokens").collect()
    kept_mass = {}
    for r in out:
        kept_mass[r["source"]] = kept_mass.get(r["source"], 0) + r["n_tokens"]
    assert "d" not in kept_mass  # unlisted stratum dropped
    # binding stratum: a (30k/0.5 = 60k budget, smallest) -> keeps ~all
    assert kept_mass["a"] > 0.9 * 30_000
    total = sum(kept_mass.values())
    for src, w in weights.items():
        assert abs(kept_mass[src] / total - w / 1e6) < 0.05, (src, kept_mass)
    # serial replay of the threshold math + hash filter = identical set
    masses = {"a": 30_000, "b": 60_000, "c": 90_000}
    budget = min(m * 1_000_000 // weights[s] for s, m in masses.items())
    expect = set()
    for doc_id, src, _ in rows:
        if src not in weights:
            continue
        thr = ((budget * weights[src] // 1_000_000) * 1_000_000) // masses[src]
        h = int(hashlib.sha256(f"{src}|{doc_id}".encode()).hexdigest()[:8], 16) % 1_000_000
        if h < thr:
            expect.add(doc_id)
    assert {r["doc_id"] for r in out} == expect


def test_mix_to_weights_corpus_never_shuffles(spark):
    """The corpus-side path must be a broadcast join + filter: the only
    Exchange in the plan belongs to the #strata-sized mass aggregate, never
    the corpus itself."""
    from sage_spark.operators.corpus import mix_to_weights

    df = spark.range(0, 1000).selectExpr(
        "cast(id as string) as doc_id",
        "concat('s', cast(id % 3 as string)) as source",
        "100 + id % 7 as n_tokens",
    )
    plan = (
        mix_to_weights(df, {"s0": 600_000, "s1": 400_000}, mass_col="n_tokens")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_xxhash64_matches_spark_bit_exactly(spark):
    """kernel/xxhash.py must reproduce Spark's xxhash64 on every length
    branch (empty, <4, <8, <32, >=32 bytes), multi-byte UTF-8, and longs —
    it anchors the serial oracle for every hash-derived operator."""
    from pyspark.sql import functions as F

    from sage_spark.kernel.xxhash import spark_xxhash64, spark_xxhash64_long

    cases = ["", "a", "abc", "hello world", "x" * 7, "y" * 8, "z" * 31, "w" * 32, "v" * 33,
             "long text " * 20, "EMP001:12345", "日本語テキスト",
             ":".join(str(i) for i in range(64))]
    rows = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(c,) for c in cases], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    }
    for c in cases:
        assert rows[c] == spark_xxhash64(c), c
    longs = [0, 1, -1, 42, 2**62, -(2**62)]
    lrows = {
        r["v"]: r["h"]
        for r in spark.createDataFrame([(v,) for v in longs], "v long")
        .select("v", F.xxhash64("v").alias("h"))
        .collect()
    }
    for v in longs:
        assert lrows[v] == spark_xxhash64_long(v), v


def test_serial_hash_replays_match_operators(spark, docs_df):
    """The no-Spark simhash/minhash replays (the driver-contract oracles)
    must equal the distributed operators on an arbitrary corpus."""
    from sage_spark.kernel.expected import expected_minhash_candidates, expected_simhash

    docs = [(r["doc_id"], r["text"]) for r in docs_df.select("doc_id", "text").collect()]
    exp_sim = {r["doc_id"]: r["simhash"] for r in expected_simhash(docs)}
    got_sim = {r["doc_id"]: r["simhash"] for r in with_simhash(docs_df, "text").select("doc_id", "simhash").collect()}
    assert exp_sim == got_sim

    from pyspark.sql import functions as F

    sdf = docs_df.withColumn("doc_id", F.col("doc_id").cast("string"))
    exp_pairs = {(r["id_a"], r["id_b"]) for r in expected_minhash_candidates([(str(d), t) for d, t in docs], bands=16)}
    got_pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(sdf, "text", "doc_id", bands=16).collect()}
    assert exp_pairs == got_pairs


def test_deterministic_sample_stability_and_rates(spark):
    """Content-keyed sampling: same rows at any partitioning, supersets as
    the rate grows, empirical rate near nominal, and no shuffle in the plan
    (filter-only, pushable to the scan)."""
    from sage_spark.operators.corpus import corpus_stats, deterministic_sample, stratified_sample

    df = spark.createDataFrame([(i, f"s{i % 4}", 100 + i) for i in range(4000)], "id long, src string, n int")
    a = {r["id"] for r in deterministic_sample(df, "id", 0.1).select("id").collect()}
    b = {r["id"] for r in deterministic_sample(df.repartition(17), "id", 0.1).select("id").collect()}
    assert a == b
    wider = {r["id"] for r in deterministic_sample(df, "id", 0.3).select("id").collect()}
    assert a <= wider  # rate increase only adds rows (same hash, higher cut)
    assert 0.07 < len(a) / 4000 < 0.13

    plan = deterministic_sample(df, "id", 0.1)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    strat = stratified_sample(df, "id", "src", {"s0": 0.0, "s1": 0.5})
    by_src = {r["src"]: r["n"] for r in strat.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert "s0" not in by_src
    assert 350 < by_src["s1"] < 650  # ~50% of 1000
    assert by_src["s2"] == 1000 and by_src["s3"] == 1000  # default keep-all

    stats = {r["group_key"]: r for r in corpus_stats(df, "src", length_col="n").collect()}
    assert stats["s0"]["n_docs"] == 1000
    # exact discrete median of 100+i for i in {0,4,...,3996}: lower middle
    assert stats["s0"]["p50_chars"] == 100 + 4 * 499


def test_pii_redaction_and_repetition_stats(spark):
    from sage_spark.operators.textstats import redact_pii, with_repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "Contact jane.doe@example.com or +1-555-123-4567, server at 10.0.0.1 ok"),
            (2, "nav\nnav\nnav\nunique line"),
            (3, "buy now buy now buy now buy now"),
            (4, ""),
        ],
        "doc_id int, text string",
    )
    red = {r["doc_id"]: r["text_redacted"] for r in redact_pii(docs).collect()}
    assert red[1] == "Contact <EMAIL> or <PHONE>, server at <IP> ok"
    assert red[2] == docs.collect()[1]["text"] or "<" not in red[2]

    stats = {r["doc_id"]: r for r in with_repetition_stats(docs).collect()}
    assert stats[2]["dup_line_frac"] == 0.5  # 4 lines, 2 distinct
    # "buy now buy now...": bigrams = [buy now, now buy, buy now, now buy,
    # buy now, now buy, buy now] -> top 4/7
    assert stats[3]["top_bigram_frac"] == round(4 / 7, 6)
    assert stats[4]["dup_line_frac"] == 0.0 and stats[4]["top_bigram_frac"] == 0.0


def test_unigram_logprob_ranks_garbled_text_lower(spark):
    from sage_spark.operators.textstats import with_unigram_logprob

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog and the old cat"),
            (2, "the the the the the"),             # all high-frequency
            (3, "zxqv jjkw qqpl mnbv"),             # all hapaxes
            (4, ""),                                 # no tokens
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["mean_unigram_logprob"] for r in with_unigram_logprob(docs).collect()}
    assert got[2] > got[1] > got[3]  # common words score higher than rare garble
    assert got[4] == 0.0


def test_asof_and_range_join_semantics(spark):
    from datetime import datetime

    from sage_spark.operators.temporal_joins import asof_join, range_join

    def t(h, m=0):
        return datetime(2026, 4, 1, h, m)

    left = spark.createDataFrame(
        [("u1", t(9), "e1"), ("u1", t(12), "e2"), ("u2", t(10), "e3"), ("u3", t(10), "e4")],
        "user string, ts timestamp, event string",
    )
    right = spark.createDataFrame(
        [("u1", t(8), "s1"), ("u1", t(12), "s2"), ("u2", t(11), "s3")],
        "user string, ts timestamp, snap string",
    )
    out = {r["event"]: r["asof_snap"] for r in asof_join(left, right, on="user", right_cols=["snap"]).collect()}
    assert out == {"e1": "s1", "e2": "s2", "e3": None, "e4": None}  # ties match; later/absent don't

    intervals = spark.createDataFrame(
        [("u1", t(8, 30), t(9, 30), "w1"), ("u1", t(11), t(13), "w2"), ("u2", t(9), t(10, 1), "w3")],
        "user string, start timestamp, end timestamp, wid string",
    )
    pairs = {
        (r["event"], r["wid"])
        for r in range_join(left, intervals, on="user", bin_seconds=900).collect()
    }
    assert pairs == {("e1", "w1"), ("e2", "w2"), ("e3", "w3")}

    # plan shape: the binned range join must be an equi-join, never a
    # cartesian/broadcast-nested-loop explosion
    plan = range_join(left, intervals, on="user", bin_seconds=900)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_asof_join_payload_comes_from_one_right_row(spark):
    """Multi-column nullable payload: a NULL in the LATEST matching right row
    must stay NULL, never back-fill from an older right row (the per-column
    carry bug). The whole payload travels as one struct."""
    from datetime import datetime

    from sage_spark.operators.temporal_joins import asof_join

    def t(h):
        return datetime(2026, 4, 1, h)

    left = spark.createDataFrame([("u1", t(12), "e1")], "user string, ts timestamp, event string")
    right = spark.createDataFrame(
        [("u1", t(8), "old-a", "old-b"), ("u1", t(10), "new-a", None)],
        "user string, ts timestamp, a string, b string",
    )
    row = asof_join(left, right, on="user", right_cols=["a", "b"]).collect()[0]
    assert row["asof_a"] == "new-a"
    assert row["asof_b"] is None  # NOT "old-b": both columns from the t(10) row


def test_asof_join_bucketed_matches_unbucketed_under_skew(spark):
    """The skew-safe time-bucketed carry must be result-identical to the
    plain per-key window, including one dominant hot key and buckets with no
    right rows (boundary carry across empty buckets)."""
    from datetime import datetime, timedelta

    from sage_spark.operators.temporal_joins import asof_join

    base = datetime(2026, 4, 1)
    # hot key u0 gets 400 left rows over 50 hours; right snapshots every 7h;
    # u1 sparse; u2 has left rows but zero right rows
    left_rows = [("u0", base + timedelta(minutes=7 * i), f"e{i}") for i in range(400)]
    left_rows += [("u1", base + timedelta(hours=30), "x1"), ("u2", base + timedelta(hours=2), "x2")]
    right_rows = [("u0", base + timedelta(hours=7 * j), f"s{j}", j) for j in range(8)]
    right_rows += [("u1", base + timedelta(hours=1), "r1", 100)]
    left = spark.createDataFrame(left_rows, "user string, ts timestamp, event string")
    right = spark.createDataFrame(right_rows, "user string, ts timestamp, snap string, v int")

    plain = asof_join(left, right, on="user", right_cols=["snap", "v"])
    bucketed = asof_join(left, right, on="user", right_cols=["snap", "v"], time_bucket_seconds=3600)
    key = lambda r: (r["user"], r["ts"], r["event"])  # noqa: E731
    a = sorted((tuple(r.asDict().items()) for r in plain.collect()), key=repr)
    b = sorted((tuple(r.asDict().items()) for r in bucketed.collect()), key=repr)
    assert a == b
    got = {r["event"]: r["asof_snap"] for r in bucketed.collect()}
    assert got["x2"] is None and got["x1"] == "r1"
    assert got["e0"] == "s0" and got["e399"] is not None


def test_hypertable_rollup_reaggregates_exactly(spark):
    """Coarser levels derive from finer pre-aggregates; the result must
    equal a direct aggregation of the raw events at every granularity, and
    only the finest level may scan the raw table."""
    from datetime import datetime, timedelta

    from sage_spark.operators.rollup import hypertable_rollup

    base = datetime(2026, 4, 1)
    rows = [(base + timedelta(minutes=17 * i), float(i % 7) + 0.25) for i in range(300)]
    events = spark.createDataFrame(rows, "ts timestamp, value double")
    out = hypertable_rollup(events, levels=("minute", "hour", "day")).collect()
    got = {(r["granularity"], r["bucket"]): (r["n"], r["sum_value"], r["min_value"], r["max_value"]) for r in out}
    for lvl in ("minute", "hour", "day"):
        direct = events.groupBy(F.date_trunc(lvl, "ts").alias("b")).agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("s"),
            F.round(F.min("value"), 6).alias("mn"),
            F.round(F.max("value"), 6).alias("mx"),
        ).collect()
        for r in direct:
            assert got[(lvl, r["b"])] == (r["n"], r["s"], r["mn"], r["mx"]), (lvl, r["b"])

    # raw table scanned exactly once: the finest level is materialized and
    # coarser levels derive from the checkpoint, never from raw events
    plan = hypertable_rollup(events, levels=("minute", "hour", "day"))._jdf.queryExecution().optimizedPlan().toString()
    raw_scans = [l for l in plan.splitlines() if "LogicalRDD" in l and "ts#" in l]
    assert raw_scans == []  # every scan in the plan reads the materialized bucket table, never raw events


def test_decontaminate_flags_ngram_overlap(spark):
    """A doc sharing an 8-gram with the benchmark is flagged with the right
    distinct-gram count; short texts and non-overlapping docs are clean."""
    from sage_spark.operators.decontam import decontaminate

    eval_q = "what is the capital of france and why does it matter"
    docs = spark.createDataFrame(
        [
            (1, "intro text " + eval_q + " trailing words"),   # contains the eval
            (2, "completely unrelated content about spark plans and shuffles here"),
            (3, "what is the capital"),                        # < 8 tokens: clean
            (4, ""),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame([(eval_q,)], "text string")
    got = {r["doc_id"]: r for r in decontaminate(docs, bench, n=8).collect()}
    assert got[1]["contaminated"] and got[1]["n_contaminated_ngrams"] == 4  # 11-token eval -> 4 8-grams
    for d in (2, 3, 4):
        assert not got[d]["contaminated"] and got[d]["n_contaminated_ngrams"] == 0


def test_pack_sequences_layout_invariants(spark):
    """Offsets are a permutation-stable exact layout: contiguous global
    offsets in (shard, id) order, pack ids consistent with window size, and
    the result identical at different input partitionings."""
    from sage_spark.operators.packing import pack_sequences

    rows = [(i, (i * 37) % 500) for i in range(200)]
    a = spark.createDataFrame(rows, "doc_id int, n_tok int").repartition(1)
    b = spark.createDataFrame(rows, "doc_id int, n_tok int").repartition(13)
    out_a = sorted(
        (tuple(r) for r in pack_sequences(a, token_col="n_tok", window=256, n_shards=4).collect()),
    )
    out_b = sorted(
        (tuple(r) for r in pack_sequences(b, token_col="n_tok", window=256, n_shards=4).collect()),
    )
    assert out_a == out_b  # partitioning-invariant

    total = sum(n for _, n in rows)
    # offsets tile the stream exactly: sorted offsets + sizes are contiguous
    laid = sorted(out_a, key=lambda t: t[2])
    cursor = 0
    for doc_id, n_tokens, goff, first, last, inpack in laid:
        assert goff == cursor
        assert first == goff // 256 and inpack == goff % 256
        expect_last = (goff + n_tokens - 1) // 256 if n_tokens > 0 else first
        assert last == expect_last
        cursor += n_tokens
    assert cursor == total


def test_url_canonicalize_rules(spark):
    from sage_spark.operators.urlops import canonicalize_url, host_of, registered_domain

    cases = [
        ("HTTPS://WWW.Example.COM:443/a/B?utm_source=x&b=2&a=1#frag", "https://example.com/a/B?a=1&b=2"),
        ("http://Example.com:80/", "http://example.com/"),
        ("https://sub.Shop.CO.UK/p/?gclid=1&fbclid=2", "https://sub.shop.co.uk/p/"),
        ("http://example.com", "http://example.com/"),
        ("http://example.com:8080/x?z=1&y=2", "http://example.com:8080/x?y=2&z=1"),  # non-default port kept
        ("https://example.com/?utm_campaign=a&utm_medium=b", "https://example.com/"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i int, url string")
    got = {r["i"]: r["c"] for r in df.select("i", canonicalize_url(F.col("url")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)

    doms = [
        ("https://sub.shop.co.uk/p", "shop.co.uk"),
        ("http://example.com/", "example.com"),
        ("http://a.b.c.example.com.au/", "example.com.au"),
        ("http://localhost/", "localhost"),
    ]
    ddf = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(doms)], "i int, url string")
    got_d = {
        r["i"]: r["d"]
        for r in ddf.select("i", registered_domain(host_of(F.col("url"))).alias("d")).collect()
    }
    for i, (_, want) in enumerate(doms):
        assert got_d[i] == want, (i, got_d[i], want)


def test_strip_boilerplate_site_rule(spark):
    """Lines in >=50% of a site's docs are removed (matched trimmed, order
    preserved); small groups below min_docs are untouched; a doc that is
    all boilerplate cleans to empty."""
    from sage_spark.operators.boilerplate import strip_boilerplate

    foot = "(c) example corp"
    docs = spark.createDataFrame(
        [
            (1, "a", f"unique one\n{foot}\nmore text"),
            (2, "a", f"unique two\n  {foot}  \nother"),
            (3, "a", "unique three no footer"),
            (4, "a", foot),                      # all boilerplate -> empty
            (5, "b", f"solo doc\n{foot}"),       # group size 1 < min_docs: kept
        ],
        "doc_id int, source string, text string",
    )
    out = {r["doc_id"]: r for r in strip_boilerplate(docs, group_col="source", min_docs=2, frac=0.5).collect()}
    assert out[1]["text_clean"] == "unique one\nmore text" and out[1]["n_lines_removed"] == 1
    assert out[2]["text_clean"] == "unique two\nother" and out[2]["n_lines_removed"] == 1
    assert out[3]["text_clean"] == "unique three no footer" and out[3]["n_lines_removed"] == 0
    assert out[4]["text_clean"] == "" and out[4]["n_lines_removed"] == 1
    assert out[5]["text_clean"] == f"solo doc\n{foot}" and out[5]["n_lines_removed"] == 0


def test_contract_registry_fits_driver_window():
    """The driver verifies only the FIRST 50 registry rows (round 3 shipped
    56 and the tail went silently unchecked): the registry must stay at
    <= 50 entries, every entry must have an oracle, and contract columns
    must never be non-scalar (the driver hasher crashes on list cells)."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    assert len(q) <= 50, f"{len(q)} entries exceed the driver's 50-row check window"
    oracles = entrymod.oracle_sql()
    missing = [k for k in q if k not in oracles]
    assert not missing, f"queries with no oracle: {missing}"


def test_minhash_multibyte_vectorized_matches_serial():
    """The width-bucketed multibyte shingle path must produce exactly the
    serial per-shingle XXH64 set — across CJK, emoji (4-byte), combining
    marks, mixed ASCII/multibyte boundaries, and random unicode fuzz."""
    import numpy as np

    from sage_spark.kernel.minhash import MERSENNE31, _JAVA_WS, _shingle_hashes
    from sage_spark.kernel.xxhash import spark_xxhash64

    def serial(text, shingle_len):
        s = _JAVA_WS.sub(" ", (text or "").lower())
        if len(s) < shingle_len:
            return sorted({spark_xxhash64(s) % MERSENNE31})
        return sorted({
            spark_xxhash64(s[i : i + shingle_len]) % MERSENNE31
            for i in range(len(s) - shingle_len + 1)
        })

    cases = [
        "こんにちは世界、これはテストです",
        "🎉🚀 emoji & text mixed 🎂🌍 boundaries",
        "combining áé marks préférée",
        "mixed ascii 中文 ascii 日本語 tail",
        "ß" * 40,
        "aé" * 25,
        " nbsp stays ",
    ]
    import random

    rng = random.Random(42)
    pool = "abc éü中日🎉́ XYZ.,"
    cases += ["".join(rng.choice(pool) for _ in range(rng.randrange(3, 120))) for _ in range(60)]
    for text in cases:
        for sl in (3, 5, 7):
            got = np.sort(_shingle_hashes(text, sl)).tolist()
            assert got == serial(text, sl), (text[:40], sl)


def test_cap_per_group_equals_global_window_and_passes_light_groups(spark):
    """cap_per_group == the naive global row_number form, and under-cap
    groups' rows are untouched (identity, not re-selected)."""
    from pyspark.sql import Window

    from sage_spark.operators.corpus import cap_per_group

    rows = [(g, i) for g in ["big", "huge"] for i in range(20)] + [("tiny", 0), ("tiny", 1)]
    df = spark.createDataFrame(rows, "source string, doc_id int")
    got = {(r["source"], r["doc_id"]) for r in cap_per_group(df, "source", 5, "doc_id").collect()}
    w = Window.partitionBy("source").orderBy("doc_id")
    want = {
        (r["source"], r["doc_id"])
        for r in df.withColumn("rn", F.row_number().over(w)).filter("rn <= 5").drop("rn").collect()
    }
    assert got == want
    assert {(g, i) for (g, i) in got if g == "tiny"} == {("tiny", 0), ("tiny", 1)}
    assert len([1 for (g, _) in got if g == "big"]) == 5


def _lsh_bucket_native(df, embedding_col="embedding", *, dim, n_planes=8, seed=13):
    """The pure-column LSH bucket, kept here as the oracle for the Arrow
    kernel: one interpreted ``aggregate(zip_with(...))`` dot product per
    hyperplane, sign bits packed into one long."""
    from sage_spark.operators.similarity import _dot, _hyperplane

    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = _hyperplane(dim, p, seed)
        sign_bit = (_dot(F.col(embedding_col), F.array(*[F.lit(v) for v in plane])) >= 0).cast("long")
        bucket = bucket + sign_bit * F.lit(2**p)
    return df.withColumn("lsh_bucket", bucket)


def test_lsh_bucket_arrow_matches_native(spark):
    """r6: the Arrow LSH-bucket kernel must produce the exact bucket of the
    pure-column HOF form for every row, including null embeddings (the
    sign of a dot product cannot flip under summation reordering unless
    |dot| < 1e-16, and the planted grid exercises many sign boundaries)."""
    from pyspark.sql import functions as F

    from sage_spark.kernel.embed import hash_embedding
    from sage_spark.operators.similarity import with_lsh_bucket

    rows = [(i, hash_embedding(f"lsh-parity-{i}", 16)) for i in range(300)]
    rows.append((300, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {
        r["vec_id"]: r["lsh_bucket"]
        for r in with_lsh_bucket(df, dim=16, n_planes=8).collect()
    }
    b = {
        r["vec_id"]: r["lsh_bucket"]
        for r in _lsh_bucket_native(df, dim=16, n_planes=8).collect()
    }
    assert a == b
    assert a[300] is None
