"""DedupIndex — the unified save/load/probe/absorb surface over the three
persisted-index dedup operators. Contract per kind: probe ≡ the direct
operator, save→load is lossless, absorb admits only kept rows and makes
them duplicates on re-probe (append-not-rebuild)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_voting_system_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_exact_index_probe_matches_operator(spark, docs, tmp_path):
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    idx = dedup.DedupIndex.build(corpus, "exact")
    direct = dedup.incremental_dedup(
        batch,
        corpus.select(F.md5(
            __import__(
                "realtime_voting_system_spark.functions.text",
                fromlist=["normalize"],
            ).normalize(F.col("text"))
        ).alias("fingerprint")),
    )
    assert _rows(idx.probe(batch)) == _rows(direct)
    idx.save(str(tmp_path / "exact_idx"))
    loaded = dedup.DedupIndex.load(spark, str(tmp_path / "exact_idx"))
    assert loaded.kind == "exact" and loaded.params == idx.params
    assert _rows(loaded.probe(batch)) == _rows(direct)


def test_minhash_index_probe_matches_operator(spark, docs, tmp_path):
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    idx = dedup.DedupIndex.build(corpus, "minhash")
    direct = dedup.incremental_minhash_dedup(batch, corpus)
    assert _rows(idx.probe(batch)) == _rows(direct)
    idx.save(str(tmp_path / "mh_idx"))
    loaded = dedup.DedupIndex.load(spark, str(tmp_path / "mh_idx"))
    assert _rows(loaded.probe(batch)) == _rows(direct)


def test_minhash_index_saved_with_hash_fn(spark, docs, tmp_path):
    """Indexes saved while the signature family was a param carry
    ``hash_fn``: a stored md5 is dropped and the index serves; any other
    family raises, since its bands would never match a probe's md5 bands.
    build() no longer takes the key."""
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    with pytest.raises(ValueError, match="hash_fn"):
        dedup.DedupIndex.build(corpus, "minhash", hash_fn="md5")
    idx = dedup.DedupIndex.build(corpus, "minhash")
    for fam in ("md5", "xxhash64"):
        dedup.DedupIndex(
            idx.kind, {**idx.params, "hash_fn": fam}, idx.arts
        ).save(str(tmp_path / fam))
    loaded = dedup.DedupIndex.load(spark, str(tmp_path / "md5"))
    assert loaded.params == idx.params
    assert _rows(loaded.probe(batch)) == _rows(idx.probe(batch))
    with pytest.raises(ValueError, match="xxhash64"):
        dedup.DedupIndex.load(spark, str(tmp_path / "xxhash64"))


def test_semantic_index_probe_matches_operator(spark, emb, tmp_path):
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    idx = dedup.DedupIndex.build(
        corpus, "semantic", threshold=0.30, iters=0
    )
    cents = similarity.ivf_centroids(corpus, n_centroids=16, iters=0)
    direct = dedup.incremental_semantic_dedup(
        batch, cents, similarity.assign_cells(corpus, cents), corpus,
        threshold=0.30,
    )
    assert _rows(idx.probe(batch)) == _rows(direct)
    idx.save(str(tmp_path / "sem_idx"))
    loaded = dedup.DedupIndex.load(spark, str(tmp_path / "sem_idx"))
    assert _rows(loaded.probe(batch)) == _rows(direct)


def test_build_rejects_unknown_params(spark, emb, tmp_path):
    """A key build() does not know — here the removed ``assign`` option —
    is refused by name instead of being stored and ignored, while an
    index saved with such a key in its params still loads and serves."""
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    with pytest.raises(ValueError, match="assign"):
        dedup.DedupIndex.build(corpus, "semantic", assign="fold")
    idx = dedup.DedupIndex.build(
        corpus, "semantic", threshold=0.30, iters=0
    )
    dedup.DedupIndex(
        idx.kind, {**idx.params, "assign": "fold"}, idx.arts
    ).save(str(tmp_path / "old_params"))
    loaded = dedup.DedupIndex.load(spark, str(tmp_path / "old_params"))
    assert loaded.params["assign"] == "fold"
    assert _rows(loaded.probe(batch)) == _rows(idx.probe(batch))


@pytest.mark.parametrize("kind", ["exact", "minhash"])
def test_absorb_makes_kept_rows_duplicates(spark, docs, tmp_path, kind):
    """The append-not-rebuild restart contract: after absorbing a batch,
    a SAVED+RELOADED index must flag that same batch's kept rows as
    duplicates of the index."""
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") < 60))
    idx = dedup.DedupIndex.build(corpus, kind)
    st1 = idx.probe(batch)
    kept1 = {r[0] for r in st1.collect() if r["status"] == "kept"}
    assert kept1  # fixture sanity: some of the batch is novel
    idx2 = idx.absorb(batch, st1)
    idx2.save(str(tmp_path / f"absorbed_{kind}"))
    loaded = dedup.DedupIndex.load(
        spark, str(tmp_path / f"absorbed_{kind}")
    )
    st2 = loaded.probe(batch)
    for r in st2.collect():
        if r[0] in kept1:
            assert r["status"] != "kept", (kind, r)


def test_absorb_semantic_freezes_centroids(spark, emb):
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 80))
    idx = dedup.DedupIndex.build(
        corpus, "semantic", threshold=0.95, iters=0
    )
    idx2 = idx.absorb(batch)
    # train-once contract: the centroid artifact is the same object/rows
    assert _rows(idx2.arts["centroids"]) == _rows(idx.arts["centroids"])
    # kept batch rows joined the assignment and vector tables
    n_kept = idx2.arts["assign"].count() - idx.arts["assign"].count()
    assert n_kept > 0
    assert (
        idx2.arts["vectors"].count() - idx.arts["vectors"].count() == n_kept
    )
    # re-probe: a vector identical to an absorbed one is a near-dup now
    st = idx2.probe(batch)
    kept = st.filter(F.col("status") == "kept").count()
    assert kept == 0  # every batch row now collides with itself in index


def test_unknown_kind_rejected(spark, docs):
    with pytest.raises(ValueError, match="unknown index kind"):
        dedup.DedupIndex.build(docs, "bloom")
    with pytest.raises(ValueError, match="missing artifacts"):
        dedup.DedupIndex("minhash", {}, {"bands": docs})


def test_stats_tracks_absorb_generations(spark, tmp_path):
    """X261: on a PLANTED absorb sequence the growth telemetry is exact —
    generation 0 holds the build corpus's distinct fingerprints, each
    absorb adds one generation with exactly the batch's NOVEL
    fingerprints (replays add nothing), bytes are 32/fingerprint (md5
    hex), and the generation cursor survives save/load."""

    def mk(ids_texts):
        return spark.createDataFrame(ids_texts, "doc_id long, text string")

    corpus = mk([(1, "alpha"), (2, "beta"), (3, "Alpha  ")])  # 3 → dup of 1
    idx = dedup.DedupIndex.build(corpus, "exact")
    s0 = {(r.artifact, r.generation): (r.n_rows, r.approx_bytes)
          for r in idx.stats().collect()}
    assert s0 == {("fingerprints", 0): (2, 64)}

    # batch 1: one novel, one replay of the corpus, one within-batch dup
    b1 = mk([(10, "gamma"), (11, "beta"), (12, "GAMMA")])
    idx1 = idx.absorb(b1)
    s1 = {(r.artifact, r.generation): (r.n_rows, r.approx_bytes)
          for r in idx1.stats().collect()}
    assert s1 == {("fingerprints", 0): (2, 64),
                  ("fingerprints", 1): (1, 32)}
    assert idx1.generation == 1

    # batch 2: all replays of earlier generations → generation never
    # materializes (absorb admits nothing)
    idx2 = idx1.absorb(mk([(20, "alpha"), (21, "gamma")]))
    s2 = {(r.artifact, r.generation): (r.n_rows, r.approx_bytes)
          for r in idx2.stats().collect()}
    assert s2 == s1
    assert idx2.generation == 2  # the cursor still advances

    # batch 3: two novels land in generation 3
    idx3 = idx2.absorb(mk([(30, "delta"), (31, "epsilon")]))
    s3 = {(r.artifact, r.generation): (r.n_rows, r.approx_bytes)
          for r in idx3.stats().collect()}
    assert s3 == {**s1, ("fingerprints", 3): (2, 64)}

    # persistence: tags + cursor round-trip
    idx3.save(str(tmp_path / "stats_idx"))
    loaded = dedup.DedupIndex.load(spark, str(tmp_path / "stats_idx"))
    assert loaded.generation == 3
    s_loaded = {(r.artifact, r.generation): (r.n_rows, r.approx_bytes)
                for r in loaded.stats().collect()}
    assert s_loaded == s3
    # and a loaded index keeps probing correctly against ALL generations
    verdicts = {r.doc_id: r.status
                for r in loaded.probe(mk([(40, "delta"), (41, "zeta")]))
                .collect()}
    assert verdicts == {40: "dup_in_index", 41: "kept"}


def test_generation_cursor_persisted_explicitly(spark, emb, tmp_path):
    """Advisor r7: the cursor is saved in _meta, not reconstructed from
    tags. Two scenarios tag-reconstruction gets wrong: a semantic index
    (its first artifact — centroids — is frozen at generation 0 forever)
    and a zero-admission absorb (the cursor advances but writes no tag).
    Both must round-trip exactly, and a post-load absorb must land in a
    FRESH generation rather than colliding with existing rows."""
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 80))
    b2 = emb.filter(
        (F.col("vec_id") % 2 == 1)
        & (F.col("vec_id") >= 80) & (F.col("vec_id") < 160)
    )
    idx1 = dedup.DedupIndex.build(
        corpus, "semantic", threshold=0.95, iters=0
    ).absorb(b1)
    assert idx1.generation == 1
    idx1.save(str(tmp_path / "sem_cursor"))
    loaded = dedup.DedupIndex.load(spark, str(tmp_path / "sem_cursor"))
    # max(__gen) of the first artifact (frozen centroids) is 0 — the
    # explicit cursor must win
    assert loaded.generation == 1
    idx2 = loaded.absorb(b2)
    assert idx2.generation == 2
    s = {(r.artifact, r.generation): r.n_rows
         for r in idx2.stats().collect()}
    # b2's kept rows landed in a fresh generation 2, not merged into 1
    assert ("assign", 2) in s and ("assign", 1) in s
    # zero-admission absorb: every b2 row now self-collides → nothing
    # admitted, no tag written, but the cursor still advances and saves
    idx3 = idx2.absorb(b2)
    assert idx3.generation == 3
    assert ("assign", 3) not in {
        (r.artifact, r.generation) for r in idx3.stats().collect()
    }
    idx3.save(str(tmp_path / "sem_cursor3"))
    assert dedup.DedupIndex.load(
        spark, str(tmp_path / "sem_cursor3")
    ).generation == 3


def test_stats_minhash_artifacts_per_generation(spark, docs):
    """X261 minhash form: bands rows grow by (kept × bands-per-doc) and
    shingles by kept docs per generation — both artifacts report the
    same generation axis."""
    corpus = docs.filter(F.col("doc_id") % 3 == 0).limit(20)
    batch = docs.filter(F.col("doc_id") % 3 == 1).limit(10)
    idx = dedup.DedupIndex.build(corpus, "minhash")
    st = idx.probe(batch)
    kept = st.filter(F.col("status") == "kept").count()
    s = {(r.artifact, r.generation): r.n_rows
         for r in idx.absorb(batch, st).stats().collect()}
    n0 = corpus.count()
    assert s[("shingles", 0)] == n0
    assert s[("bands", 0)] == n0 * idx.params["bands"]
    if kept:
        assert s[("shingles", 1)] == kept
        assert s[("bands", 1)] == kept * idx.params["bands"]


def test_phash_index_probe_absorb_roundtrip(spark, tmp_path):
    """X273: the phash DedupIndex kind honors the full index contract —
    probe ≡ the direct operator, save→load lossless, absorb makes a
    batch's kept images near-dups on re-probe, stats tracks the
    generation axis."""
    from realtime_voting_system_spark.operators import multimodal

    docs = spark.createDataFrame([(i,) for i in range(0, 120)], "doc_id long")
    corpus = multimodal.with_tile_payload(
        docs.filter(F.col("doc_id") % 6 == 0)
    )
    batch = multimodal.with_tile_payload(
        docs.filter(F.col("doc_id") % 6 == 3)
    )
    idx = dedup.DedupIndex.build(corpus, "phash")
    st1 = idx.probe(batch)
    direct = dedup.incremental_phash_dedup(
        batch, multimodal.image_dhash(corpus)
    )
    assert _rows(st1) == _rows(direct)
    kept1 = {r.doc_id for r in st1.collect() if r.status == "kept"}
    assert kept1
    idx2 = idx.absorb(batch, st1)
    idx2.save(str(tmp_path / "phash_idx"))
    loaded = dedup.DedupIndex.load(spark, str(tmp_path / "phash_idx"))
    assert loaded.kind == "phash" and loaded.generation == 1
    st2 = loaded.probe(batch)
    for r in st2.collect():
        if r.doc_id in kept1:
            assert r.status == "near_dup_in_index", r
    s = {(r.artifact, r.generation): r.n_rows
         for r in loaded.stats().collect()}
    assert s[("hashes", 0)] == corpus.count()
    assert s[("hashes", 1)] == len(kept1)
    # advisor r8: a DOUBLE absorb of one batch (stale statuses frame
    # replayed) must not duplicate (id, dhash) rows — the anti join
    # rejects already-hashed ids, so generation 2 admits zero rows and
    # the total hash count is unchanged
    idx3 = idx2.absorb(batch, st1)
    n_after = idx3._art("hashes").count()
    assert n_after == corpus.count() + len(kept1)
    dupes = (
        idx3._art("hashes").groupBy("doc_id").count()
        .filter(F.col("count") > 1).count()
    )
    assert dupes == 0


def test_audio_index_probe_absorb_roundtrip(spark, tmp_path):
    """X283: the audio DedupIndex kind honors the full index contract —
    probe ≡ the direct operator, save→load lossless, absorb makes a
    batch's kept files near-dups on re-probe (and a double absorb of
    the same batch admits nothing — the shared phash safety nets)."""
    from realtime_voting_system_spark.operators import multimodal

    docs = spark.createDataFrame([(i,) for i in range(0, 240)], "doc_id long")
    corpus = multimodal.with_wave_payload(
        docs.filter(F.col("doc_id") % 6 == 1)
    )
    batch = multimodal.with_wave_payload(
        docs.filter(F.col("doc_id") % 6 == 4)
    )
    idx = dedup.DedupIndex.build(corpus, "audio")
    st1 = idx.probe(batch)
    direct = dedup.incremental_audio_dedup(
        batch, multimodal.audio_energy_hash(corpus)
    )
    assert _rows(st1) == _rows(direct)
    kept1 = {r.doc_id for r in st1.collect() if r.status == "kept"}
    assert kept1
    idx2 = idx.absorb(batch, st1)
    idx2.save(str(tmp_path / "audio_idx"))
    loaded = dedup.DedupIndex.load(spark, str(tmp_path / "audio_idx"))
    assert loaded.kind == "audio" and loaded.generation == 1
    for r in loaded.probe(batch).collect():
        if r.doc_id in kept1:
            assert r.status == "near_dup_in_index", r
    idx3 = loaded.absorb(batch, st1)
    assert idx3._art("hashes").count() == corpus.count() + len(kept1)


def test_scenes_index_probe_absorb_roundtrip(spark, tmp_path):
    """X284: the scenes DedupIndex kind honors the full index contract —
    probe ≡ the direct operator, save→load lossless, absorb makes a
    batch's kept clips near-dups on re-probe, and a double absorb of
    the same batch admits nothing (the id-keyed replay guard; shingles
    legitimately repeat within a clip so the guard is per-id, not
    per-row)."""
    from realtime_voting_system_spark.operators import multimodal

    docs = spark.createDataFrame([(i,) for i in range(0, 240)], "doc_id long")
    corpus = multimodal.with_clip_payload(
        docs.filter(F.col("doc_id") % 6 == 2)
    )
    batch = multimodal.with_clip_payload(
        docs.filter(F.col("doc_id") % 6 == 5)
    )
    idx = dedup.DedupIndex.build(corpus, "scenes")
    st1 = idx.probe(batch)
    direct = dedup.incremental_scene_dedup(
        batch,
        dedup.sequence_shingles(
            multimodal.frame_signatures(corpus)
        ),
    )
    assert _rows(st1) == _rows(direct)
    kept1 = {r.doc_id for r in st1.collect() if r.status == "kept"}
    assert kept1
    idx2 = idx.absorb(batch, st1)
    n_after = idx2._art("shingles").count()
    idx2.save(str(tmp_path / "scenes_idx"))
    loaded = dedup.DedupIndex.load(spark, str(tmp_path / "scenes_idx"))
    assert loaded.kind == "scenes" and loaded.generation == 1
    for r in loaded.probe(batch).collect():
        if r.doc_id in kept1:
            assert r.status == "near_dup_in_index", r
    idx3 = loaded.absorb(batch, st1)
    assert idx3._art("shingles").count() == n_after  # double absorb: no-op


def test_scenes_index_hashed_probe_equals_string(spark, tmp_path):
    """X291: DedupIndex(kind='scenes', hashed=True) persists md5-60bit
    shingle keys (the X287 exchange form) and its probe verdicts are
    EXACTLY the string-keyed index's — on a planted mix of fresh clips,
    trimmed corpus copies, and trimmed batch copies; the hashed flag
    round-trips save→load and the absorb path re-keys identically."""
    from pyspark.sql.types import LongType
    from realtime_voting_system_spark.operators import multimodal

    docs = spark.createDataFrame([(i,) for i in range(0, 240)], "doc_id long")
    corpus = multimodal.with_clip_payload(
        docs.filter(F.col("doc_id") % 6 == 2)
    )
    fresh = multimodal.with_clip_payload(
        docs.filter(F.col("doc_id") % 6 == 5)
    )
    copies = multimodal.trim_video(
        multimodal.with_clip_payload(docs.filter(F.col("doc_id") % 30 == 2)),
        front=2, back=1, id_offset=1_000_000,
    )
    batch = fresh.unionByName(copies)
    s_idx = dedup.DedupIndex.build(corpus, "scenes")
    h_idx = dedup.DedupIndex.build(corpus, "scenes", hashed=True)
    # the hashed artifact is long-keyed (the 8 B exchange claim)
    assert isinstance(
        h_idx._art("shingles").schema["shingle"].dataType, LongType
    )
    st_s = _rows(s_idx.probe(batch))
    st_h = _rows(h_idx.probe(batch))
    assert st_s == st_h
    assert any(s == "near_dup_in_index" for _, s in st_h)
    # absorb re-keys identically; save→load round-trips the flag
    h2 = h_idx.absorb(batch)
    h2.save(str(tmp_path / "scenes_hashed"))
    loaded = dedup.DedupIndex.load(spark, str(tmp_path / "scenes_hashed"))
    assert loaded.params["hashed"] is True
    assert isinstance(
        loaded._art("shingles").schema["shingle"].dataType, LongType
    )
    s2 = s_idx.absorb(batch)
    assert _rows(loaded.probe(batch)) == _rows(s2.probe(batch))


def test_scenes_signature_reuse_identical(spark):
    """Judge r10 #3: threading precomputed frame_signatures through
    build/probe/absorb must be hash-identical to the recompute path —
    one decode serving every consumer is a pure cost move, not a
    semantic one."""
    from realtime_voting_system_spark.operators import multimodal

    docs = spark.createDataFrame([(i,) for i in range(0, 240)], "doc_id long")
    corpus = multimodal.with_clip_payload(
        docs.filter(F.col("doc_id") % 6 == 2)
    )
    batch = multimodal.with_clip_payload(
        docs.filter(F.col("doc_id") % 6 == 5)
    )
    csig = multimodal.frame_signatures(corpus)
    bsig = multimodal.frame_signatures(batch)
    plain = dedup.DedupIndex.build(corpus, "scenes")
    sigd = dedup.DedupIndex.build(corpus, "scenes", signatures=csig)
    assert "signatures" not in sigd.params  # never persisted in _meta
    assert _rows(plain._art("shingles")) == _rows(sigd._art("shingles"))
    st_plain = plain.probe(batch)
    st_sig = sigd.probe(batch, signatures=bsig)
    assert _rows(st_plain) == _rows(st_sig)
    a_plain = plain.absorb(batch)
    a_sig = sigd.absorb(batch, signatures=bsig)
    assert _rows(
        a_plain._art("shingles").select("doc_id", "shingle")
    ) == _rows(a_sig._art("shingles").select("doc_id", "shingle"))


def test_compact_preserves_probe_and_resets_ledger(spark, docs, tmp_path):
    """X304: compact() must change LAYOUT, never ANSWERS. Pins the four
    contract arms across kinds (exact + minhash here; the compact keys
    table covers all six): (a) probe verdicts identical pre/post
    compact; (b) stats() collapses to a single generation whose row
    total equals the pre-compact sum (nothing dropped or duplicated);
    (c) the generation cursor resets to 0 and persists through
    save/load; (d) an absorb AFTER compact restarts the ledger at
    generation 1 — the compacted index is a fresh baseline, not a
    frozen one."""
    for kind in ("exact", "minhash"):
        idx = dedup.DedupIndex.build(
            docs.filter(F.col("doc_id") % 4 == 0), kind
        )
        idx = idx.absorb(docs.filter(F.col("doc_id") % 4 == 1))
        idx = idx.absorb(docs.filter(F.col("doc_id") % 4 == 2))
        probe_batch = docs.filter(F.col("doc_id") % 4 == 3)
        before = _rows(idx.probe(probe_batch))
        pre_stats = idx.stats().collect()
        pre_total = {}
        for r in pre_stats:
            pre_total[r["artifact"]] = (
                pre_total.get(r["artifact"], 0) + r["n_rows"]
            )
        assert any(r["generation"] > 0 for r in pre_stats)

        comp = idx.compact()
        # (a) answers unchanged
        assert _rows(comp.probe(probe_batch)) == before
        # (b) one generation, same row totals per artifact
        post = comp.stats().collect()
        assert {r["generation"] for r in post} == {0}
        assert {r["artifact"]: r["n_rows"] for r in post} == pre_total
        # (c) cursor reset survives persistence
        assert comp.generation == 0
        path = str(tmp_path / f"compacted_{kind}")
        comp.save(path)
        loaded = dedup.DedupIndex.load(spark, path)
        assert loaded.generation == 0
        assert _rows(loaded.probe(probe_batch)) == before
        # (d) post-compact absorb restarts the ledger at generation 1
        grown = loaded.absorb(probe_batch)
        gens = {r["generation"] for r in grown.stats().collect()}
        assert gens <= {0, 1} and grown.generation == 1


def test_retrain_lifecycle_and_ledger(spark, emb, tmp_path):
    """X310: absorbed_share/retrain_needed/retrain contract — the
    dedup-side trigger is the mass arm of IvfIndex.retrain_needed.
    (a) a fresh build reads share 0 and no trigger; (b) absorbing a
    majority batch pushes the share over the bar and fires it; (c)
    retrain() re-assigns EVERY vector under fresh full-corpus
    centroids, resets the ledger (share back to 0, trigger off,
    generation 0) and preserves membership; (d) retrain on an
    untrained kind refuses."""
    base = emb.filter(F.col("vec_id") % 3 == 0)
    batch = emb.filter(F.col("vec_id") % 3 != 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
    )
    idx = dedup.DedupIndex.build(
        base, "semantic", n_centroids=8, threshold=0.95,
        iters=0,
    )
    assert idx.absorbed_share() == 0.0 and not idx.retrain_needed()
    grown = idx.absorb(batch)
    n_total = grown.arts["assign"].count()
    assert grown.absorbed_share() > 0.5 and grown.retrain_needed()
    fresh = grown.retrain(iters=0)
    assert fresh.generation == 0
    assert fresh.absorbed_share() == 0.0 and not fresh.retrain_needed()
    assert fresh.arts["assign"].count() == n_total
    assert fresh.arts["vectors"].count() == n_total
    # the retrained centroids must actually have moved: the fresh
    # md5-least sample over base+batch includes offset ids
    old_c = {tuple(r["cv"]) for r in grown.arts["centroids"].collect()}
    new_c = {tuple(r["cv"]) for r in fresh.arts["centroids"].collect()}
    assert old_c != new_c
    with pytest.raises(ValueError, match="semantic kind only"):
        dedup.DedupIndex.build(
            spark.createDataFrame([("a", "x")], "doc_id string, text string"),
            "exact",
        ).retrain()


def test_dedup_publish_audit_refusal(spark, emb, tmp_path):
    """X310 refusal half: a staged index that fails its consistency
    audit must raise and leave the _PUBLISHED pointer untouched — a
    serving crawler keeps probing the previous version."""
    root = str(tmp_path / "pubroot")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    idx = dedup.DedupIndex.build(
        base, "semantic", n_centroids=8, threshold=0.95,
        iters=0,
    )
    seq1 = dedup.publish_index(idx, root)
    assert seq1 == 1
    head = dedup.load_published_index(spark, root)
    want = _rows(head.arts["assign"].drop("__gen"))
    # corrupt the assignment artifact: drop one row so the
    # every-vector-assigned-exactly-once audit fails
    broken = dedup.DedupIndex(
        idx.kind, idx.params,
        {
            "centroids": idx.arts["centroids"],
            "assign": idx.arts["assign"].limit(
                idx.arts["assign"].count() - 1
            ),
            "vectors": idx.arts["vectors"],
        },
    )
    with pytest.raises(dedup.DedupIndexAuditFailure):
        dedup.publish_index(broken, root)
    again = dedup.load_published_index(spark, root)
    assert _rows(again.arts["assign"].drop("__gen")) == want
    # and a GOOD publish after the refusal lands at seq 2
    assert dedup.publish_index(idx, root) == 2
