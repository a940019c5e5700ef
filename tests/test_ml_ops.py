"""Semantics tests for the non-SQL-oracle operators: SimHash, multimodal
plumbing, and LSH recall sanity."""

import pytest
from pyspark.sql import functions as F

from fao_elt_pipelines_spark.functions import multimodal as MM
from fao_elt_pipelines_spark.functions import similarity as SIM


def test_simhash_identity_and_locality(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    sigs = d.select("doc_id", "text", SIM.simhash64(F.col("text")).alias("s"))
    # identical text -> identical simhash (determinism across partitions)
    twice = sigs.unionByName(sigs).groupBy("doc_id").agg(F.countDistinct("s").alias("n"))
    assert twice.filter("n > 1").count() == 0
    # locality: a doc vs itself with one word changed has small hamming dist
    row = d.first()
    changed = row["text"].replace(row["text"].split()[0], "zzz", 1)
    pair = spark.createDataFrame([(row["text"], changed)], ["a", "b"])
    hd = pair.select(
        SIM.hamming64(SIM.simhash64(F.col("a")), SIM.simhash64(F.col("b"))).alias("d")
    ).first()["d"]
    assert 0 <= hd <= 24  # one-token edit should not flip most bits


def test_lsh_candidates_catch_high_jaccard(spark, sf_dir):
    """Every pair the brute-force jaccard finds at tau>=0.8 must be an LSH
    candidate (4 bands x 2 rows: P(miss | j=0.8) = (1-0.64)^4 < 1.7%;
    the fixed testdata pairs are all caught)."""
    from fao_elt_pipelines_spark.plans.queries_ml import (
        q_dedup_minhash_lsh,
        q_dedup_ngram_jaccard,
    )

    brute = q_dedup_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.8)
    lsh = q_dedup_minhash_lsh(spark, sf_dir).filter(F.col("jaccard") >= 0.8)
    missed = brute.select("doc_a", "doc_b").exceptAll(lsh.select("doc_a", "doc_b"))
    assert missed.count() == 0


def test_multimodal_plumbing(spark, sf_dir):
    assets = MM.synthesize_assets(spark, sf_dir)
    assert [f.name for f in assets.schema.fields] == ["asset_id", "kind", "payload", "meta"]
    feats = MM.decode_features(assets)
    rows = feats.collect()
    assert len(rows) == assets.count()
    byid = {r["asset_id"]: r for r in rows}
    # deterministic fake decode: n_bytes == utf-8 length of source text
    src = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text").collect()
    for s in src[:20]:
        r = byid[s["doc_id"]]
        assert r["n_bytes"] == len(s["text"].encode())
        assert r["byte_sum"] == sum(s["text"].encode())
        assert r["width"] % 64 == 0 and r["n_frames_sampled"] >= 1


def test_multimodal_real_decode_roundtrip():
    """WAV, BMP, and AVI decoders read back exactly what the synthesizers
    wrote, for ids covering every width/height/rate/length/frame-count
    residue class."""
    for aid in range(0, 211):
        sr, n, dur, s_sum, s_max = MM._decode_wav(MM.wav_bytes(aid))
        assert sr == 8000 + (aid % 2) * 8000
        assert n == 1000 + (aid % 50) * 100
        assert dur == n * 1000 // sr
        expect = [((7 * i + aid) % 401) - 200 for i in range(n)]
        assert s_sum == sum(expect) and s_max == max(expect)
        w, h, pr, pg, pb = MM._decode_bmp(MM.bmp_bytes(aid))
        assert (w, h) == (aid % 7 + 2, aid % 5 + 2)
        assert pr == sum((x + y + aid) % 256 for y in range(h) for x in range(w))
        assert pg == sum((x + 2 * y + aid) % 256 for y in range(h) for x in range(w))
        assert pb == sum((3 * x + y + aid) % 256 for y in range(h) for x in range(w))
        w, h, nf, fps, ns, vr, vg, vb = MM._decode_avi(MM.avi_bytes(aid))
        assert (w, h, nf, fps) == (aid % 7 + 2, aid % 5 + 2, aid % 6 + 2, aid % 15 + 5)
        assert ns == (nf + 1) // 2  # stride-2 sampling keeps frames 0,2,4,…
        sampled = range(0, nf, 2)
        assert vr == sum((x + y + f + aid) % 256
                         for f in sampled for y in range(h) for x in range(w))
        assert vg == sum((x + 2 * y + 2 * f + aid) % 256
                         for f in sampled for y in range(h) for x in range(w))
        assert vb == sum((3 * x + y + 3 * f + aid) % 256
                         for f in sampled for y in range(h) for x in range(w))


def test_multimodal_avi_frame_sampling_strides():
    """stride=1 sums every frame; a stride beyond n_frames keeps only frame
    0; stride-2 totals equal the per-frame sums of the sampled frames."""
    aid = 9  # nf = 5
    w, h, nf, _fps, ns_all, r_all, g_all, b_all = MM._decode_avi(MM.avi_bytes(aid), frame_stride=1)
    assert ns_all == nf == 5
    _, _, _, _, ns_one, r_one, _, _ = MM._decode_avi(MM.avi_bytes(aid), frame_stride=100)
    assert ns_one == 1
    assert r_one == sum((x + y + aid) % 256 for y in range(h) for x in range(w))
    per_frame = [
        sum((x + y + f + aid) % 256 for y in range(h) for x in range(w))
        for f in range(nf)
    ]
    assert r_all == sum(per_frame)
    _, _, _, _, ns2, r2, _, _ = MM._decode_avi(MM.avi_bytes(aid), frame_stride=2)
    assert ns2 == 3 and r2 == per_frame[0] + per_frame[2] + per_frame[4]
    with pytest.raises(ValueError, match="frame_stride"):
        MM._decode_avi(MM.avi_bytes(aid), frame_stride=0)


def test_multimodal_real_decode_guards(spark, sf_dir):
    # corrupt payloads surface, not silently zero
    with pytest.raises(ValueError):
        MM._decode_bmp(b"XX" + b"\x00" * 60)
    with pytest.raises(Exception):
        MM._decode_wav(b"RIFFgarbage")
    with pytest.raises(ValueError, match="not an AVI"):
        MM._decode_avi(b"RIFFxxxxWAVE")
    # a frame-count mismatch between avih and movi surfaces
    import struct as _s

    payload = bytearray(MM.avi_bytes(4))
    i = payload.find(b"avih") + 8
    declared = _s.unpack_from("<I", payload, i + 16)[0]
    _s.pack_into("<I", payload, i + 16, declared + 1)
    with pytest.raises(ValueError, match="movi carries"):
        MM._decode_avi(bytes(payload))
    # the codec seam is explicit: compressed streams raise, uncompressed
    # DIB frames decode for real
    compressed = bytearray(MM.avi_bytes(4))
    j = compressed.find(b"vids") + 4
    compressed[j : j + 4] = b"H264"
    video = spark.createDataFrame(
        [(1, "video", bytes(compressed), {"format": "avi"})],
        MM.ASSET_SCHEMA,
    )
    with pytest.raises(Exception, match="codec .* requires a codec library"):
        MM.decode_media_features(video).collect()


def test_multimodal_distributed_decode(spark, sf_dir):
    """End-to-end distributed path: synth → decode over mapInPandas, with
    audio, image, and video rows carrying their own feature columns."""
    feats = MM.decode_media_features(MM.synthesize_media_assets(spark, sf_dir))
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    rows = feats.collect()
    assert len(rows) == n_docs
    kinds = {r["kind"] for r in rows}
    assert kinds == {"audio", "image", "video"}
    for r in rows[:60]:
        if r["kind"] == "audio":
            assert r["sample_rate"] in (8000, 16000) and r["width"] is None
            assert r["amp_max"] is not None and r["amp_max"] <= 200
        elif r["kind"] == "image":
            assert r["width"] is not None and r["sample_rate"] is None
            assert r["n_frames"] is None and r["px_sum_r"] is not None
            assert 2 <= r["width"] <= 8 and 2 <= r["height"] <= 6
        else:
            assert 2 <= r["n_frames"] <= 7 and 5 <= r["fps"] <= 19
            assert r["n_frames_sampled"] == (r["n_frames"] + 1) // 2
            assert r["px_sum_r"] is not None and r["sample_rate"] is None


def test_windowed_op_counts_batch_parity(spark):
    from fao_elt_pipelines_spark import binlog
    from fao_elt_pipelines_spark.streaming.stream_replay import windowed_op_counts

    ev = binlog.change_events(spark, 5000, n_repos=20)
    out = windowed_op_counts(ev)
    total = out.agg(F.sum("events")).collect()[0][0]
    assert total == 5000
    assert out.filter(F.col("window_end") <= F.col("window_start")).count() == 0


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """The IVF/LSH-bucketed ANN must recover most of the true top-5
    (recall@5 >= 0.5 with 4 planes + Hamming-1 multiprobe on this data) and
    never return a pair the brute-force scorer would rank above 1.0."""
    from fao_elt_pipelines_spark.plans.queries_ml import q_ann_cosine_topk, q_ann_ivf_topk

    truth = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_cosine_topk(spark, sf_dir).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_ivf_topk(spark, sf_dir).collect()
    }
    assert truth, "brute-force baseline returned nothing"
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.5, f"recall@5 {recall:.2f} too low"


def test_semantic_dedup_greedy_invariants(spark, sf_dir):
    """SemDeDup greedy semantics on the real fixture, checked against the
    exact within-cell pair set: (1) every dropped row's dup_of is a KEPT,
    smaller-id, same-cell row within tau (and the smallest such); (2) no
    two KEPT rows in a cell are within tau of each other; (3) every
    similar-pair chain keeps its earliest member. The registry
    differential certifies the recurrence vs DuckDB; this pins the policy
    against an independent pair-set reconstruction (per-TRAINED-cell
    exact numpy cosines — the same quantizer the entry sweeps, pairs
    recomputed all-pairs in the test, not via the engine's sweep)."""
    import numpy as np

    from fao_elt_pipelines_spark.plans.queries_ml import (
        COSINE_TAU,
        q_semantic_dedup,
        semantic_cells,
    )

    rows = q_semantic_dedup(spark, sf_dir).collect()
    kept = {r.vec_id for r in rows if r.kept}
    cell = {r.vec_id: r.bucket for r in rows}
    # exact cosine>=tau pairs within the same trained cells (id_a < id_b)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    by_cell = {}
    for r in semantic_cells(e).collect():
        by_cell.setdefault(r.bucket, []).append((r.vec_id, r.embedding))
    pairs = set()
    for members in by_cell.values():
        ids = np.array([i for i, _ in members])
        X = np.stack([np.asarray(v, dtype=np.float64) for _, v in members])
        nrm = np.maximum(np.linalg.norm(X, axis=1), 1e-12)
        S = (X @ X.T) / nrm[:, None] / nrm[None, :]
        ii, jj = np.nonzero(S >= COSINE_TAU)
        for a, b in zip(ids[ii], ids[jj]):
            if a < b:
                pairs.add((int(a), int(b)))
    sim_to_earlier = {}  # vec -> sorted smaller-id similar same-cell ids
    for a, b in pairs:
        sim_to_earlier.setdefault(b, []).append(a)
    for r in rows:
        earlier_kept = sorted(
            a for a in sim_to_earlier.get(r.vec_id, []) if a in kept
        )
        if r.kept:
            assert r.dup_of is None
            assert not earlier_kept, (
                f"{r.vec_id} kept despite kept near-dup {earlier_kept}"
            )
        else:
            assert earlier_kept and r.dup_of == earlier_kept[0], (
                f"{r.vec_id}: dup_of={r.dup_of}, expected {earlier_kept[:1]}"
            )
            assert cell[r.dup_of] == r.bucket
    # chain endpoints: the earliest member of every similar pair whose
    # other end was dropped must itself be kept or trace to a kept root
    for a, b in pairs:
        assert a in kept or any(x in kept for x in sim_to_earlier.get(a, [])), (
            f"pair ({a},{b}): earlier member neither kept nor dominated"
        )
    assert kept and len(kept) < len(rows), "fixture must exercise both paths"


@pytest.mark.parametrize("cuts", [(170, 340), (100, 400), (499, 500)])
def test_semantic_dedup_incremental_matches_batch(spark, sf_dir, cuts):
    """Id-range batches through greedy_cell_dedup_incremental must union
    to EXACTLY the one-shot batch sweep's decisions (the prefix property
    the operator's contract buys), for uneven splits and a degenerate
    near-empty third batch. The index is survivors-only."""
    from fao_elt_pipelines_spark.plans.queries_ml import (
        COSINE_TAU,
        q_semantic_dedup,
        semantic_cells,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # same TRAINED quantizer as the batch entry (shared semantic_cells)
    b = semantic_cells(e)
    want = {
        r.vec_id: (r.bucket, r.kept, r.dup_of)
        for r in q_semantic_dedup(spark, sf_dir).collect()
    }
    lo = 0
    index = None
    got = {}
    for hi in (*cuts, None):
        batch = b.filter(F.col("vec_id") >= lo)
        if hi is not None:
            batch = batch.filter(F.col("vec_id") < hi)
        decisions = SIM.greedy_cell_dedup_incremental(batch, index, tau=COSINE_TAU)
        rows = decisions.collect()
        got.update({r.vec_id: (r.bucket, r.kept, r.dup_of) for r in rows})
        kept_ids = [r.vec_id for r in rows if r.kept]
        newly_kept = batch.filter(F.col("vec_id").isin(kept_ids))
        index = newly_kept if index is None else index.unionByName(newly_kept)
        lo = hi
    assert got == want


def test_semantic_dedup_incremental_contract_violation_raises(spark, sf_dir):
    """A batch whose ids do not all exceed the index's must raise (the
    silent alternative diverges from batch-mode) — enforced per cell
    inside the sweep, no extra action."""
    from fao_elt_pipelines_spark.plans.queries_ml import COSINE_TAU

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b = e.select(
        "vec_id", "embedding", SIM.ivf_bucket(F.col("embedding")).alias("bucket")
    )
    first = b.filter(F.col("vec_id") >= 250)  # ingest the HIGH range first
    d1 = SIM.greedy_cell_dedup_incremental(first, None, tau=COSINE_TAU)
    kept_ids = [r.vec_id for r in d1.collect() if r.kept]
    index = first.filter(F.col("vec_id").isin(kept_ids))
    stale = b.filter(F.col("vec_id") < 250)  # lower ids arrive late
    with pytest.raises(Exception, match="semantic ingest contract violated"):
        SIM.greedy_cell_dedup_incremental(stale, index, tau=COSINE_TAU).collect()


def test_semantic_cells_split_hot_region(spark):
    """The round-4 gap this closes: a fixed sign-LSH grid lets one hot
    semantic region grow a single cell linearly with the corpus (one
    executor task then sweeps O(cell · kept · dim)); TRAINED cells must
    converge on the hot region and split it. 1500 vectors tightly
    clustered around one direction + 100 spread decoys: the grid packs
    the cluster into ~1-2 cells; semantic_cells' k =
    ceil(1600/SEMANTIC_CELL_CAP) = 25 trained cells must hold the max
    cell to a small multiple of the cap and far below the grid's hot
    cell. Deterministic corpus (arithmetic perturbations, no RNG)."""
    from fao_elt_pipelines_spark.plans.queries_ml import (
        SEMANTIC_CELL_CAP,
        semantic_cells,
    )

    dim = 16
    vecs = []
    for i in range(1500):  # hot: direction ~all-ones, ±3% perturbations
        vecs.append(
            (i, [1.0 + (((i * 31 + j * 17) % 7) - 3) / 100.0 for j in range(dim)])
        )
    for i in range(1500, 1600):  # spread decoys: alternating sign patterns
        vecs.append(
            (
                i,
                [
                    float((1 if ((i * 13 + j * 29) % 5) > 1 else -1) * (1 + ((i + j) % 9) / 10))
                    for j in range(dim)
                ],
            )
        )
    sdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )
    grid_max = (
        sdf.select(SIM.ivf_bucket(F.col("embedding")).alias("b"))
        .groupBy("b").count().agg(F.max("count")).first()[0]
    )
    trained = (
        semantic_cells(sdf).groupBy("bucket").count()
        .agg(F.max("count").alias("mx"), F.count("*").alias("n_cells")).first()
    )
    assert grid_max >= 500, f"fixture lost its skew (grid max {grid_max})"
    assert trained.mx * 3 <= grid_max, (
        f"trained cells did not split the hot region: max {trained.mx} "
        f"vs grid {grid_max}"
    )
    assert trained.mx <= 4 * SEMANTIC_CELL_CAP


def test_semantic_cell_k_formula():
    """k tracks corpus/cap (the executor-sizing contract), floored at 2
    and capped at the flat-codebook ceiling."""
    from fao_elt_pipelines_spark.plans.queries_ml import (
        SEMANTIC_CELL_CAP,
        SEMANTIC_K_MAX,
        semantic_cell_k,
    )

    assert semantic_cell_k(1) == 2
    assert semantic_cell_k(SEMANTIC_CELL_CAP * 10) == 10
    assert semantic_cell_k(SEMANTIC_CELL_CAP * 10 + 1) == 11  # ceil, not floor
    assert semantic_cell_k(10**9) == SEMANTIC_K_MAX
    ks = [semantic_cell_k(n) for n in range(1, 5000, 7)]
    assert ks == sorted(ks)  # monotone in corpus size


def test_semantic_dedup_huge_ids_exact(spark):
    """dup_of must survive snowflake-scale ids (> 2^53): a float64 hop
    would round-trip 2^60+1 to a NEARBY BUT DIFFERENT id — the emitted
    dup_of would point at a vector that doesn't exist."""
    base = 1 << 60
    rows = [
        (base + 1, 0, [1.0, 0.0]),
        (base + 3, 0, [1.0, 1e-9]),  # near-dup of base+1 → dropped
        (base + 5, 0, [0.0, 1.0]),   # orthogonal → kept
    ]
    b = spark.createDataFrame(rows, ["vec_id", "bucket", "embedding"])
    got = {r.vec_id: (r.kept, r.dup_of) for r in SIM.greedy_cell_dedup(b, tau=0.9).collect()}
    assert got == {
        base + 1: (True, None),
        base + 3: (False, base + 1),  # exact, not float-rounded
        base + 5: (True, None),
    }


def test_semantic_dedup_zero_norm_alignment(spark):
    """Zero-norm vectors must be 'never similar → always kept' on BOTH
    engines: numpy produces NaN cosines (NaN >= tau is False); DuckDB
    produces NULL for 0.0/0.0 and list_position skips NULL elements. Run
    the ACTUAL oracle SQL against a tiny corpus containing a zero vector
    as seed, a zero vector mid-cell, and a genuine near-dup, and demand
    row-for-row agreement with greedy_cell_dedup."""
    import duckdb

    from fao_elt_pipelines_spark.plans.queries_ml import (
        semantic_cell_k,
        semantic_dedup_oracle_sql,
    )

    # vec 0: zero vector (cell seed in its bucket). vec 1/2: near-identical
    # (cos ~1). vec 3: another zero vector. vec 4: orthogonal-ish survivor.
    vecs = [
        (0, [0.0] * 64),
        (1, [1.0, 2.0] + [0.5] * 62),
        (2, [1.0, 2.0] + [0.5] * 62),
        (3, [0.0] * 64),
        (4, [1.0, -2.0] + [0.5, -0.5] * 31),
    ]
    sdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs], "vec_id long, embedding array<float>"
    )
    con = duckdb.connect()
    con.register(
        "embeddings",
        __import__("pandas").DataFrame(
            {"vec_id": [i for i, _ in vecs], "embedding": [v for _, v in vecs]}
        ),
    )
    # tiny-corpus codebook, derived exactly as the lazy oracle derives it
    # (md5-ordered sample, semantic_cell_k cells) — zero vectors land IN
    # the training sample, exercising the norm clamp
    sample = con.execute(
        "SELECT embedding FROM embeddings "
        "ORDER BY md5('kmeans|' || CAST(vec_id AS VARCHAR))"
    ).fetchall()
    C = SIM.kmeans_centroids([r[0] for r in sample], k=semantic_cell_k(len(vecs)))
    b = sdf.select(
        "vec_id", "embedding", SIM.kmeans_assign(C, F.col("embedding")).alias("bucket")
    )
    got = {
        r.vec_id: (r.bucket, r.kept, r.dup_of)
        for r in SIM.greedy_cell_dedup(b, tau=0.3).collect()
    }
    want = {
        row[0]: (row[1], row[2], row[3])
        for row in con.execute(semantic_dedup_oracle_sql(C)).fetchall()
    }
    assert got == want, f"engine/oracle divergence: {got} vs {want}"
    # both zero vectors kept (never matched), and the duplicate dropped
    assert got[0][1] and got[3][1] and not got[2][1] and got[2][2] == 1


def test_ivf_bucket_is_deterministic_and_bounded(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b1 = e.select(SIM.ivf_bucket(F.col("embedding")).alias("b"))
    stats = b1.agg(F.min("b").alias("lo"), F.max("b").alias("hi")).first()
    assert 0 <= stats.lo and stats.hi <= 15
    assert b1.collect() == e.select(SIM.ivf_bucket(F.col("embedding")).alias("b")).collect()


def test_simhash_neardup_semantics(spark, tmp_path):
    """Banded SimHash near-dup must find identical docs (hamming 0) and
    one-token edits (small hamming), and never miss a pair within the
    hamming<=3 guarantee (pigeonhole over 4 bands)."""
    import itertools

    from fao_elt_pipelines_spark.plans.queries_ml import q_simhash_neardup

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, base, "en", "s", len(base)),
        (1, base, "en", "s", len(base)),                  # identical -> hamming 0
        (2, base.replace("dog", "cat"), "en", "s", 1),    # one-token edit
        (3, "completely different text about spark shuffles and parquet files", "en", "s", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/documents.parquet")

    got = {(r.doc_a, r.doc_b): r.hamming for r in q_simhash_neardup(spark, sf).collect()}
    assert got.get((0, 1)) == 0

    # exhaustive ground truth: every pair with hamming<=3 must be reported
    from fao_elt_pipelines_spark.functions import similarity as SIM
    from pyspark.sql import functions as F

    sigs = {
        r.doc_id: r.sh
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", SIM.simhash64(F.col("text")).alias("sh"))
        .collect()
    }
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
        if h <= 3:
            assert (a, b) in got and got[(a, b)] == h
        else:
            assert got.get((a, b), 99) == h or (a, b) not in got


def test_ann_numpy_scorer_matches_hof_topk(spark):
    """The numpy einsum scorer (the big-corpus path) must produce the
    identical top-k (ids AND ranks) as the oracle-exact HOF scorer on the
    test corpus — last-ulp float differences may not reorder neighbors."""
    from fao_elt_pipelines_spark.plans.queries_ml import (
        q_ann_ivf_topk,
        q_ann_ivf_topk_matmul,
    )

    from tests.conftest import SF_DIR_ORACLE as sf
    hof = {(r.query_id, r.rnk): r.neighbor_id for r in q_ann_ivf_topk(spark, sf, scorer="hof").collect()}
    np_ = {(r.query_id, r.rnk): r.neighbor_id for r in q_ann_ivf_topk(spark, sf, scorer="numpy").collect()}
    mm = {(r.query_id, r.rnk): r.neighbor_id for r in q_ann_ivf_topk_matmul(spark, sf).collect()}
    assert hof == np_ == mm and len(hof) == 50


def test_embedding_neardup_lsh_matmul_pair_identity(spark):
    """The per-cell chunked-matmul verify (the 10^9-vector path) must emit
    the IDENTICAL near-dup pair set as the oracle-green HOF twin, with
    cosines equal to numeric noise — and must survive chunk boundaries
    (chunk smaller than a cell population)."""
    from fao_elt_pipelines_spark.functions import similarity as SIM
    from fao_elt_pipelines_spark.plans.queries_ml import (
        COSINE_TAU,
        q_embedding_neardup_lsh,
        q_embedding_neardup_lsh_np,
    )
    from fao_elt_pipelines_spark.plans.queries_ml import load as _load
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR_ORACLE as sf
    hof = {(r.id_a, r.id_b): r.cosine_sim for r in q_embedding_neardup_lsh(spark, sf).collect()}
    mm = {(r.id_a, r.id_b): r.cosine_sim for r in q_embedding_neardup_lsh_np(spark, sf).collect()}
    assert set(hof) == set(mm) and len(hof) > 0
    assert all(abs(hof[k] - mm[k]) < 1e-9 for k in hof)

    # chunking must not change the result: force multiple slabs per cell
    b = _load(spark, sf, "embeddings").select(
        "vec_id", "embedding", SIM.ivf_bucket(F.col("embedding")).alias("bucket")
    )
    small = {
        (r.id_a, r.id_b)
        for r in SIM.bucket_pair_scores(b, tau=COSINE_TAU, chunk=7).collect()
    }
    assert small == set(hof)


def test_connected_components_chain_and_islands(spark):
    from fao_elt_pipelines_spark.operators.components import connected_components

    # chain 1-2-3-4 (diameter 3: needs multiple propagation rounds),
    # separate island 10-11, pair order/direction mixed on purpose
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_converges_on_long_path(spark):
    from fao_elt_pipelines_spark.operators.components import connected_components

    n = 12  # path 0-1-...-11, worst-case diameter for min-propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    rows = connected_components(pairs).collect()
    assert {r["cluster_id"] for r in rows} == {0}
    assert len(rows) == n


def test_connected_components_raises_when_not_converged(spark):
    import pytest as _pytest

    from fao_elt_pipelines_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)


def test_star_contraction_matches_min_label(spark):
    """Both algorithms must produce IDENTICAL (node, cluster_id) maps on
    a graph mixing a chain, a star, an island pair, and a triangle with
    shuffled edge directions."""
    from fao_elt_pipelines_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [
            (2, 1), (2, 3), (4, 3),          # chain 1-2-3-4
            (20, 25), (20, 22), (27, 20),    # star centered off-min
            (10, 11),                        # island
            (30, 31), (31, 32), (32, 30),    # triangle
        ],
        "doc_a long, doc_b long",
    )
    a = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    b = {
        r["node"]: r["cluster_id"]
        for r in connected_components_star(pairs).collect()
    }
    assert a == b
    assert b[4] == 1 and b[27] == 20 and b[32] == 30


def test_star_contraction_labels_self_pair_nodes(spark):
    """A node seen only in a self-pair is its own component: the star
    form emits its label row, like the min-label form."""
    from fao_elt_pipelines_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame([(5, 5), (1, 2)], "doc_a long, doc_b long")
    a = sorted(map(tuple, connected_components(pairs).collect()))
    b = sorted(map(tuple, connected_components_star(pairs).collect()))
    assert a == b == [(1, 1), (2, 1), (5, 5)]


def test_star_contraction_path_graph_log_rounds(spark):
    """The O(log n) property on the adversarial shape min-propagation
    can't handle: a 256-node path has diameter 255 (min-label needs ~255
    rounds; its default cap raises), but star contraction must converge
    within 2·log2(n) + 4 = 20 alternation rounds and still emit the
    single component labeled by the path minimum."""
    import math

    from fao_elt_pipelines_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    n = 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=5)
    cap = 2 * int(math.log2(n)) + 4
    rows = connected_components_star(pairs, max_iter=cap).collect()
    assert len(rows) == n
    assert {r["cluster_id"] for r in rows} == {0}


def test_star_contraction_raises_when_capped(spark):
    from fao_elt_pipelines_spark.operators.components import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(pairs, max_iter=1)


def test_kmeans_ivf_recall_beats_lsh_grid(spark, sf_dir):
    """The trained quantizer's whole reason to exist (VERDICT r3 item 7):
    at the SAME probe budget (5 cells of 16) kmeans-IVF must recall
    strictly more of the exact brute top-5 than the data-free sign-LSH
    grid, and more probes must not hurt (8-probe recall >= 5-probe)."""
    from fao_elt_pipelines_spark.plans.queries_ml import (
        q_ann_cosine_topk,
        q_ann_ivf_topk,
        q_ann_kmeans_topk,
    )

    exact = {(r.query_id, r.neighbor_id) for r in q_ann_cosine_topk(spark, sf_dir).collect()}
    lsh = {(r.query_id, r.neighbor_id) for r in q_ann_ivf_topk(spark, sf_dir).collect()}
    km5 = {(r.query_id, r.neighbor_id)
           for r in q_ann_kmeans_topk(spark, sf_dir, k=16, n_probe=5).collect()}
    km8 = {(r.query_id, r.neighbor_id)
           for r in q_ann_kmeans_topk(spark, sf_dir, k=16, n_probe=8).collect()}
    r_lsh = len(lsh & exact) / len(exact)
    r_km5 = len(km5 & exact) / len(exact)
    r_km8 = len(km8 & exact) / len(exact)
    assert r_km5 > r_lsh, (r_km5, r_lsh)
    assert r_km5 >= 0.6, r_km5
    assert r_km8 >= r_km5, (r_km8, r_km5)


def test_kmeans_ivf_deterministic_and_shaped(spark, sf_dir):
    """Training is sample+init deterministic: two evaluations agree
    exactly; output is 5 ranked rows per query with rnk 1..5."""
    from fao_elt_pipelines_spark.plans.queries_ml import q_ann_kmeans_topk

    a = sorted(map(tuple, q_ann_kmeans_topk(spark, sf_dir).collect()))
    b = sorted(map(tuple, q_ann_kmeans_topk(spark, sf_dir).collect()))
    assert a == b
    per_q = {}
    for qid, nid, rnk in a:
        per_q.setdefault(qid, []).append(rnk)
        assert nid != qid
    assert all(sorted(v) == list(range(1, 6)) for v in per_q.values())


def test_dedup_chunks_semantics(spark, tmp_path):
    """Chunk-aligned exact dedup on hand-built docs: the first global
    occurrence (by doc_id, chunk_idx) survives, later copies drop —
    across docs, within a doc, and for whole-doc copies; a tail chunk
    shorter than K is a chunk like any other."""
    from fao_elt_pipelines_spark.plans.queries_ml import CHUNK_K, q_dedup_chunks

    assert CHUNK_K == 8  # the doc fixtures below are built for K=8
    A = " ".join(f"a{i}" for i in range(8))   # doc 1 chunk 0
    B = " ".join(f"b{i}" for i in range(8))   # doc 1 chunk 1
    C = " ".join(f"c{i}" for i in range(8))   # doc 2's own chunk
    D = " ".join(f"d{i}" for i in range(8))   # doc 3's repeated chunk
    rows = [
        (1, f"{A} {B}"),       # both chunks first -> kept 2
        (2, f"{A} {C}"),       # chunk A seen in doc 1 -> kept 1 (C)
        (3, f"{D} {D}"),       # intra-doc duplicate -> kept 1
        (4, "x0 x1 x2"),       # single short tail chunk -> kept 1
        (5, f"{A} {B}"),       # exact copy of doc 1 -> kept 0
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["text_dedup"])
        for r in q_dedup_chunks(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (2, 2, f"{A} {B}"),
        2: (2, 1, C),
        3: (2, 1, D),
        4: (1, 1, "x0 x1 x2"),
        5: (2, 0, ""),
    }


def test_dedup_chunks_global_invariants(spark, sf_dir):
    """Corpus-level bookkeeping on the real fixture: the kept-chunk count
    equals the number of DISTINCT chunks (each distinct chunk survives
    exactly once, somewhere), n_kept <= n_chunks per doc, and total chunk
    count is preserved."""
    from fao_elt_pipelines_spark.plans.queries_ml import CHUNK_K, q_dedup_chunks
    from fao_elt_pipelines_spark.functions import text as TX

    out = q_dedup_chunks(spark, sf_dir)
    agg = out.agg(
        F.sum("n_chunks").alias("total"), F.sum("n_kept").alias("kept")
    ).first()
    assert out.filter(F.col("n_kept") > F.col("n_chunks")).count() == 0

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = TX.tokens(F.col("text"))
    tr = d.select(F.posexplode(toks).alias("pos", "tok"), "doc_id")
    n_tokens_chunks = d.select(
        F.sum(F.ceil(F.size(toks) / F.lit(CHUNK_K))).alias("n")
    ).first()["n"]
    assert agg["total"] == n_tokens_chunks
    # distinct chunk count via an independent formulation: distinct
    # (chunk text) over the same aligned chunking
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", i).over(w) for i in range(1, CHUNK_K)]
    n_distinct = (
        tr.select("doc_id", "pos", F.concat_ws(" ", F.col("tok"), *leads).alias("chunk"))
        .filter(F.col("pos") % CHUNK_K == 0)
        .select("chunk")
        .distinct()
        .count()
    )
    assert agg["kept"] == n_distinct


def test_dedup_boilerplate_semantics(spark, tmp_path):
    """Boilerplate removal on hand-built docs: a chunk in >= 3 distinct
    docs drops EVERYWHERE (even its first occurrence), a chunk in 2 docs
    stays in both, and intra-doc repeats count as ONE distinct doc so
    they all survive — the exact complement of dedup_chunks' keep-first."""
    from fao_elt_pipelines_spark.plans.queries_ml import (
        BOILERPLATE_DOCS,
        CHUNK_K,
        q_dedup_boilerplate,
    )

    assert (CHUNK_K, BOILERPLATE_DOCS) == (8, 3)  # fixtures built for these
    A = " ".join(f"a{i}" for i in range(8))  # in docs 1,2,3 -> boilerplate
    B = " ".join(f"b{i}" for i in range(8))  # in docs 1,2 only -> kept
    D = " ".join(f"d{i}" for i in range(8))  # twice in doc 3 only -> kept
    rows = [
        (1, f"{A} {B}"),
        (2, f"{A} {B}"),
        (3, f"{A} {D} {D}"),
        (4, "x0 x1 x2"),  # unique short tail chunk -> kept
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["text_clean"])
        for r in q_dedup_boilerplate(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (2, 1, B),
        2: (2, 1, B),
        3: (3, 2, f"{D} {D}"),
        4: (1, 1, "x0 x1 x2"),
    }


def test_dedup_boilerplate_global_invariants(spark, sf_dir):
    """Corpus-level bookkeeping on the real fixture: one output row per
    document, total chunk count preserved, and dropped occurrences equal
    an independent count of occurrences of chunks spanning >=
    BOILERPLATE_DOCS distinct docs."""
    from fao_elt_pipelines_spark.plans.queries_ml import (
        BOILERPLATE_DOCS,
        _chunk_rows,
        q_dedup_boilerplate,
    )

    out = q_dedup_boilerplate(spark, sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert out.count() == n_docs
    assert out.filter(F.col("n_kept") > F.col("n_chunks")).count() == 0

    agg = out.agg(F.sum("n_chunks").alias("total"), F.sum("n_kept").alias("kept")).first()
    chunks = _chunk_rows(spark, sf_dir)
    stats = (
        chunks.groupBy("chunk")
        .agg(F.countDistinct("doc_id").alias("nd"), F.count("*").alias("occ"))
        .agg(
            F.sum("occ").alias("total_occ"),
            F.sum(F.when(F.col("nd") >= BOILERPLATE_DOCS, F.col("occ")).otherwise(0)).alias(
                "boiler_occ"
            ),
        )
        .first()
    )
    assert agg["total"] == stats["total_occ"]
    assert stats["boiler_occ"] > 0, "fixture must exercise the drop path"
    assert agg["kept"] == stats["total_occ"] - stats["boiler_occ"]


def _drop_commit(root, batch_id):
    """Simulate a crash-just-before-commit: remove the id from the index
    manifest (its data dirs stay on disk, exactly the pre-swap state)."""
    import json
    import os

    mp = os.path.join(str(root), "commits", "MANIFEST.json")
    with open(mp) as fh:
        m = json.load(fh)
    for key in ("committed", "ingested"):
        m[key] = [b for b in m[key] if b != str(batch_id)]
    with open(mp, "w") as fh:
        json.dump(m, fh)


def _batch_pair_set(df):
    return {(r["doc_a"], r["doc_b"], round(r["jaccard"], 12)) for r in df.collect()}


def test_incremental_lsh_index_matches_batch(spark, sf_dir, tmp_path):
    """Parquet-backed incremental ingest over an ARBITRARY split (contiguous
    doc_id ranges — deliberately different from the registry entry's
    doc_id %% 3) emits, across batches, exactly the batch-mode pair set.
    Each ingest is a separate action against state re-read from disk, so
    this also exercises restart survival."""
    from fao_elt_pipelines_spark.operators.incremental_dedup import (
        LshIndex,
        shingles_from_corpus,
    )
    from fao_elt_pipelines_spark.plans.queries_ml import (
        JACCARD_TAU,
        q_dedup_minhash_lsh,
    )

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lo, hi = corpus.agg(F.min("doc_id"), F.max("doc_id")).first()
    t1, t2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    splits = [
        F.col("doc_id") <= t1,
        (F.col("doc_id") > t1) & (F.col("doc_id") <= t2),
        F.col("doc_id") > t2,
    ]
    idx = LshIndex(spark, str(tmp_path / "lsh"), tau=JACCARD_TAU)
    shf = shingles_from_corpus(corpus)
    per_batch = []
    for i, cond in enumerate(splits):
        got = idx.ingest(corpus.filter(cond).select("doc_id", "text"), shf, i)
        per_batch.append(_batch_pair_set(got))
    want = _batch_pair_set(q_dedup_minhash_lsh(spark, sf_dir))
    assert _batch_pair_set(idx.all_pairs()) == want
    assert idx.all_pairs().count() == len(want)  # multiset: no duplicate rows
    # emissions are disjoint per batch (each pair exactly once) and
    # the later batches DO emit cross-batch pairs (the old_new path runs)
    assert sum(len(s) for s in per_batch) == len(want)
    later = {(a, b) for s in per_batch[1:] for (a, b, _) in s}
    assert any(a <= t2 < b or a <= t1 < b for (a, b) in later), "fixture must exercise old×new"


def test_incremental_lsh_index_rerun_is_multiset_exact(spark, sf_dir, tmp_path):
    """Reruns must leave the pairs output exact as a MULTISET, not just a
    set: (a) re-running a COMMITTED batch id short-circuits; (b) re-running
    an UNCOMMITTED batch (crash shape: data dirs written, marker missing)
    recomputes against the committed index and overwrites its partial
    output. Row counts are asserted so duplicate-row fanout can't hide
    behind set comparison."""
    import os

    from fao_elt_pipelines_spark.operators.incremental_dedup import (
        LshIndex,
        shingles_from_corpus,
    )
    from fao_elt_pipelines_spark.plans.queries_ml import (
        JACCARD_TAU,
        q_dedup_minhash_lsh,
    )

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = LshIndex(spark, str(tmp_path / "lsh"), tau=JACCARD_TAU)
    shf = shingles_from_corpus(corpus)
    for b in range(2):
        idx.ingest(corpus.filter(F.col("doc_id") % 2 == b).select("doc_id", "text"), shf, b)
    want = _batch_pair_set(q_dedup_minhash_lsh(spark, sf_dir))
    assert _batch_pair_set(idx.all_pairs()) == want
    assert idx.all_pairs().count() == len(want)  # multiset: no duplicate rows
    # (a) committed rerun: short-circuit, nothing changes
    idx.ingest(corpus.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text"), shf, 1)
    assert idx.all_pairs().count() == len(want)
    assert _batch_pair_set(idx.all_pairs()) == want
    # (b) uncommitted rerun: drop batch 1's marker (crash just before
    # commit — its pairs/sizes/bands dirs all exist) and re-ingest
    _drop_commit(tmp_path / "lsh", 1)
    idx.ingest(corpus.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text"), shf, 1)
    assert idx.all_pairs().count() == len(want)
    assert _batch_pair_set(idx.all_pairs()) == want


def test_incremental_lsh_index_uncommitted_batch_is_invisible(spark, sf_dir, tmp_path):
    """A crashed batch (data dirs fully written, commit marker missing)
    must be INVISIBLE to later batches — the index reads committed batches
    only — and re-ingesting it under its id restores the full pair set."""
    from fao_elt_pipelines_spark.operators.incremental_dedup import (
        LshIndex,
        shingles_from_corpus,
    )
    from fao_elt_pipelines_spark.plans.queries_ml import (
        JACCARD_TAU,
        q_dedup_minhash_lsh,
    )

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = LshIndex(spark, str(tmp_path / "lsh"), tau=JACCARD_TAU)
    shf = shingles_from_corpus(corpus)
    b0 = corpus.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    b1 = corpus.filter(F.col("doc_id") % 3 == 1).select("doc_id", "text")
    b2 = corpus.filter(F.col("doc_id") % 3 == 2).select("doc_id", "text")
    idx.ingest(b0, shf, 0)
    # simulate the crash: batch 1 writes everything but never commits
    import os

    idx.ingest(b1, shf, 1)
    _drop_commit(tmp_path / "lsh", 1)
    idx.ingest(b2, shf, 2)
    want_all = _batch_pair_set(q_dedup_minhash_lsh(spark, sf_dir))
    b1_ids = {r["doc_id"] for r in b1.select("doc_id").collect()}
    want_visible = {(a, b, j) for (a, b, j) in want_all if a not in b1_ids and b not in b1_ids}
    assert _batch_pair_set(idx.all_pairs()) == want_visible
    assert idx.all_pairs().count() == len(want_visible)
    # recovery: re-run the crashed batch; the full multiset is restored
    idx.ingest(b1, shf, 1)
    assert _batch_pair_set(idx.all_pairs()) == want_all
    assert idx.all_pairs().count() == len(want_all)


def test_incremental_lsh_reoffered_doc_is_noop(spark, sf_dir, tmp_path):
    """An at-least-once upstream re-offering ALREADY-COMMITTED docs under a
    NEW batch id must contribute nothing: no re-emission of historical
    pairs, no duplicate rows, and genuinely-new docs in the same batch
    still pair against the re-offered ones through the index."""
    from fao_elt_pipelines_spark.operators.incremental_dedup import (
        LshIndex,
        shingles_from_corpus,
    )
    from fao_elt_pipelines_spark.plans.queries_ml import (
        JACCARD_TAU,
        q_dedup_minhash_lsh,
    )

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = LshIndex(spark, str(tmp_path / "lsh"), tau=JACCARD_TAU)
    shf = shingles_from_corpus(corpus)
    b0 = corpus.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    b1 = corpus.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    idx.ingest(b0, shf, 0)
    # batch 1 redelivers every batch-0 doc alongside the new ones
    emitted = idx.ingest(b0.unionByName(b1), shf, 1)
    want = _batch_pair_set(q_dedup_minhash_lsh(spark, sf_dir))
    assert _batch_pair_set(idx.all_pairs()) == want
    assert idx.all_pairs().count() == len(want)
    # the redelivered docs' old pairs (batch-0-internal) were NOT re-emitted
    b0_ids = {r["doc_id"] for r in b0.select("doc_id").collect()}
    assert all(
        not (a in b0_ids and b in b0_ids) for (a, b, _) in _batch_pair_set(emitted)
    )


def test_incremental_lsh_index_compaction(spark, sf_dir, tmp_path):
    """compact() consolidates committed batches into one generation,
    preserves the pair MULTISET and the index's candidate state exactly
    (a post-compaction ingest still pairs against pre-compaction docs),
    GCs superseded dirs, and a compaction that crashed before the
    manifest swap leaves the old state fully in force."""
    import json
    import os

    from fao_elt_pipelines_spark.operators.incremental_dedup import (
        LshIndex,
        shingles_from_corpus,
    )
    from fao_elt_pipelines_spark.plans.queries_ml import (
        JACCARD_TAU,
        q_dedup_minhash_lsh,
    )

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = LshIndex(spark, str(tmp_path / "lsh"), tau=JACCARD_TAU)
    shf = shingles_from_corpus(corpus)
    emitted = [
        _batch_pair_set(
            idx.ingest(corpus.filter(F.col("doc_id") % 3 == b).select("doc_id", "text"), shf, b)
        )
        for b in range(2)
    ]
    mid = _batch_pair_set(idx.all_pairs())

    # crashed compaction: gen dirs may exist but the manifest still lists
    # the originals → state unchanged
    committed_before = idx._committed()
    # run the consolidation writes by hand up to (not including) the swap
    import hashlib

    gen = "c-" + hashlib.sha256("|".join(committed_before).encode()).hexdigest()[:12]
    for name in ("pairs", "sizes", "bands"):
        df = idx._read_committed(name)
        df.write.mode("overwrite").parquet(str(tmp_path / "lsh" / name / f"batch={gen}"))
    assert idx._committed() == committed_before  # manifest never swapped
    assert _batch_pair_set(idx.all_pairs()) == mid

    # real compaction: same gen id (idempotent re-run), dirs GCed
    n = idx.compact()
    assert n == 2
    assert idx._committed() == [gen]
    for b in range(2):
        assert not os.path.isdir(str(tmp_path / "lsh" / "bands" / f"batch={b}"))
    assert _batch_pair_set(idx.all_pairs()) == mid
    assert idx.all_pairs().count() == len(mid)

    # redelivery of a committed id AFTER compaction still short-circuits
    # to that batch's own emissions (pair rows carry their batch id)
    redelivered = idx.ingest(
        corpus.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text"), shf, 0
    )
    assert _batch_pair_set(redelivered) == emitted[0]
    assert idx._committed() == [gen]  # no junk manifest entry, no recompute

    # the compacted index still carries full candidate state: batch 2
    # pairs against batches 0 and 1 exactly as without compaction
    idx.ingest(corpus.filter(F.col("doc_id") % 3 == 2).select("doc_id", "text"), shf, 2)
    want = _batch_pair_set(q_dedup_minhash_lsh(spark, sf_dir))
    assert _batch_pair_set(idx.all_pairs()) == want
    assert idx.all_pairs().count() == len(want)
    # a second compaction merges (gen, batch 2); state still exact
    assert idx.compact() == 2
    assert _batch_pair_set(idx.all_pairs()) == want
    # with one committed entry left there is nothing to consolidate, but
    # the orphan sweep still runs (a crashed never-redelivered ingest)
    os.makedirs(str(tmp_path / "lsh" / "bands" / "batch=99"), exist_ok=True)
    assert idx.compact() == 0
    assert not os.path.isdir(str(tmp_path / "lsh" / "bands" / "batch=99"))
    assert _batch_pair_set(idx.all_pairs()) == want
