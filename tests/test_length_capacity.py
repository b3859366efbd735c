"""length_buckets (pow2 padding histogram) and pack_capacity_sweep
(multi-capacity greedy packing report): exact bucket edges, waste math,
per-capacity consistency with pack_sequences, and the SQL twins."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from bistro_spark.operators.curation import (
    _batch_no,
    bucketed_batches,
    bucketed_batches_sql,
    length_buckets,
    length_buckets_sql,
    pack_capacity_sweep,
    pack_capacity_sweep_sql,
    pack_sequences,
)


def test_length_buckets_edges_and_waste(spark):
    rows = [(i, "g", n) for i, n in enumerate([0, 1, 2, 3, 4, 5, 8, 9, 16, 17])]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    got = {
        r["bucket_max"]: (r["n_seqs"], r["payload_tokens"], r["pad_waste_tokens"])
        for r in length_buckets(df).collect()
    }
    # pow2 ceiling: 0->0, 1->1, 2->2, 3..4->4, 5..8->8, 9..16->16, 17->32
    assert got[0] == (1, 0, 0)
    assert got[1] == (1, 1, 0)
    assert got[2] == (1, 2, 0)
    assert got[4] == (2, 7, 1)  # 3+4 padded to 2*4
    assert got[8] == (2, 13, 3)  # 5+8 -> 16
    assert got[16] == (2, 25, 7)  # 9+16 -> 32
    assert got[32] == (1, 17, 15)
    fracs = {
        r["bucket_max"]: r["pad_waste_frac"] for r in length_buckets(df).collect()
    }
    assert fracs[32] == round(15 / 32, 6)
    assert fracs[0] == 0.0  # padded = 0 guard


def test_length_buckets_sql_twin(spark):
    rows = [(i, f"s{i % 3}", (i * 7) % 23) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    got = sorted(tuple(r) for r in length_buckets(df).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, source VARCHAR, n_tok BIGINT)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    want = sorted(
        tuple(r) for r in con.execute(length_buckets_sql("t")).fetchall()
    )
    assert got == want


def test_capacity_sweep_matches_pack_sequences_per_capacity(spark):
    rows = [(i, 1 + (i * 13) % 90) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    sweep = {
        (r["capacity"], r["shard"]): r
        for r in pack_capacity_sweep(
            df, capacities=(64, 128), n_shards=3
        ).collect()
    }
    for cap in (64, 128):
        packed = pack_sequences(df, len_col="n_tok", capacity=cap, n_shards=3)
        agg = (
            packed.groupBy("shard", "pack_id")
            .agg(F.sum("len").alias("fill"), F.count("*").alias("nd"))
            .groupBy("shard")
            .agg(
                F.count("*").alias("n_packs"),
                F.sum("nd").alias("n_docs"),
                F.sum("fill").alias("payload"),
                F.sum(F.greatest(F.lit(cap) - F.col("fill"), F.lit(0))).alias(
                    "waste"
                ),
                F.sum((F.col("fill") > cap).cast("int")).alias("n_over"),
            )
        )
        for r in agg.collect():
            s = sweep[(cap, r["shard"])]
            assert (
                s["n_packs"],
                s["n_docs"],
                s["payload_tokens"],
                s["waste_tokens"],
                s["n_overflow"],
            ) == (r["n_packs"], r["n_docs"], r["payload"], r["waste"], r["n_over"])


def test_capacity_sweep_overflow_not_netted(spark):
    # one 100-token doc at capacity 64: overflow pack, waste 0 (never
    # negative), fill_ratio > 1 reported honestly
    df = spark.createDataFrame([(0, 100)], "doc_id long, n_tok long")
    r = pack_capacity_sweep(df, capacities=(64,), n_shards=1).collect()[0]
    assert (r["n_packs"], r["waste_tokens"], r["n_overflow"]) == (1, 0, 1)
    assert r["fill_ratio"] == round(100 / 64, 6)


def test_capacity_sweep_sql_twin(spark):
    rows = [(i, 1 + (i * 11) % 70) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = sorted(
        tuple(r)
        for r in pack_capacity_sweep(df, capacities=(64, 256), n_shards=2).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE enc(doc_id BIGINT, n_tok BIGINT)")
    con.executemany("INSERT INTO enc VALUES (?,?)", rows)
    sql = pack_capacity_sweep_sql(
        "enc", capacities=(64, 256), len_expr="n_tok", n_shards=2
    )
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want


def test_capacity_sweep_empty(spark):
    df = spark.createDataFrame([], "doc_id long, n_tok long")
    out = pack_capacity_sweep(df, capacities=(64, 128), n_shards=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "capacity",
        "shard",
        "n_packs",
        "n_docs",
        "payload_tokens",
        "waste_tokens",
        "n_overflow",
        "fill_ratio",
    ]


# ------------------------------------------------------ bucketed_batches --


def _brute_batches(rows, batch_size):
    """Pure-Python reimplementation: pow2 bucket, md5 order, batch
    cuts, pad-to-longest-in-batch."""
    import hashlib

    def bucket(n):
        if n <= 1:
            return n
        return 1 << (n - 1).bit_length()

    by_bucket: dict = {}
    for i, n in rows:
        by_bucket.setdefault(bucket(n), []).append(
            (hashlib.md5(str(i).encode()).hexdigest(), i, n)
        )
    want = {}
    for b, members in by_bucket.items():
        members.sort()
        for bi in range(0, len(members), batch_size):
            chunk = [n for _m, _i, n in members[bi: bi + batch_size]]
            mx, s = max(chunk), sum(chunk)
            want[(b, bi // batch_size)] = (
                len(chunk),
                mx,
                s,
                len(chunk) * mx - s,
                round(s / (len(chunk) * mx), 6) if mx > 0 else 1.0,
            )
    return want


def test_bucketed_batches_brute_parity(spark):
    rows = [(i, (i * 37) % 40) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = {
        (r["bucket_max"], r["batch_no"]): (
            r["n_seqs"],
            r["max_len"],
            r["payload_tokens"],
            r["pad_tokens"],
            r["fill_frac"],
        )
        for r in bucketed_batches(df, batch_size=8).collect()
    }
    assert got == _brute_batches(rows, 8)
    # every batch except possibly the last per bucket is full
    for (b, bn), (n_seqs, *_rest) in got.items():
        last = max(bn2 for b2, bn2 in got if b2 == b)
        if bn < last:
            assert n_seqs == 8


def test_bucketed_batches_cluster_shape_invariance(spark):
    """Batch membership is a function of content only: a different
    input partitioning yields the identical report."""
    rows = [(i, (i * 13) % 30) for i in range(150)]
    df1 = spark.createDataFrame(rows, "doc_id long, n_tok long")
    df3 = df1.repartition(7)
    a = sorted(tuple(r) for r in bucketed_batches(df1, batch_size=4).collect())
    b = sorted(tuple(r) for r in bucketed_batches(df3, batch_size=4).collect())
    assert a == b


def test_bucketed_batches_sql_twin(spark):
    rows = [(i, (i * 7) % 25) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = sorted(
        tuple(r) for r in bucketed_batches(df, batch_size=3).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE seqs (doc_id BIGINT, n_tok BIGINT)")
    con.executemany("INSERT INTO seqs VALUES (?, ?)", rows)
    duck = sorted(
        con.execute(
            bucketed_batches_sql(
                "SELECT doc_id, n_tok FROM seqs", batch_size=3
            )
        ).fetchall()
    )
    assert got == duck


def test_bucketed_batches_batch_no_exact_past_2_53(spark):
    """batch_no is integer DIV: at a within-bucket rank of 2^53 + 7 a
    float divide rounds the rank up to 2^53 + 8 and lands one batch
    late."""
    rank = 2**53 + 7
    df = spark.createDataFrame([(rank, 0)], "rank long, _off long")
    got = df.select(_batch_no(8).alias("b")).first()["b"]
    assert got == rank // 8 == 2**50


def test_bucketed_batches_empty(spark):
    df = spark.createDataFrame([], "doc_id long, n_tok long")
    assert bucketed_batches(df).count() == 0


# ----------------------------------------- batching_strategy_report --


def test_batching_strategy_report_consistency(spark):
    """Each strategy row equals recomputing it from its constituent
    operator; pack waste never nets negative on oversize docs."""
    from bistro_spark.operators.curation import (
        batching_strategy_report,
        pack_sequences,
    )

    rows = [(i, (i * 37) % 90 + 1) for i in range(120)]
    rows.append((999, 500))  # oversize doc: its own pack, waste 0
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    cap, bsz = 128, 4
    got = {
        r["strategy"]: r
        for r in batching_strategy_report(
            df, capacity=cap, batch_size=bsz
        ).collect()
    }
    assert set(got) == {"pack", "pad_to_bucket", "pad_to_batch_max"}
    total = sum(n for _i, n in rows)
    # every strategy conserves payload
    assert all(r["payload_tokens"] == total for r in got.values())
    # pack: per-pack slack from the real assignment
    packs: dict = {}
    for r in pack_sequences(
        df, len_col="n_tok", capacity=cap
    ).collect():
        packs[(r["shard"], r["pack_id"])] = (
            packs.get((r["shard"], r["pack_id"]), 0) + r["len"]
        )
    want_waste = sum(max(cap - fill, 0) for fill in packs.values())
    assert got["pack"]["n_units"] == len(packs)
    assert got["pack"]["waste_tokens"] == want_waste
    # pad_to_bucket: pow2 ceiling per doc
    def bucket(v):
        return v if v <= 1 else 1 << (v - 1).bit_length()

    assert got["pad_to_bucket"]["waste_tokens"] == sum(
        bucket(n) - n for _i, n in rows
    )
    assert got["pad_to_bucket"]["n_units"] == len(rows)
    # batching dominates bucket padding in waste on this corpus
    assert (
        got["pad_to_batch_max"]["waste_tokens"]
        <= got["pad_to_bucket"]["waste_tokens"]
    )
    for r in got.values():
        p, w = r["payload_tokens"], r["waste_tokens"]
        assert r["waste_frac"] == round(w / (p + w), 6)


def test_bucketed_batches_no_streaming_twin_counterexample(spark):
    """The documented reason bucketed_batches has NO streaming twin:
    batch membership follows the md5 order, so a later-arriving
    candidate can insert BEFORE already-batched members and reshuffle
    existing batches — an append-only emission cannot be correct, and
    (unlike the packer's id-monotone cursor) no arrival order fixes it
    because md5 order is uncorrelated with any arrival key. Pinned:
    adding one row changes an existing batch's membership."""
    # DISTINCT lengths in one pow2 bucket (9..16), so membership shows
    # in the payload column instead of aliasing (the chunk-test trap)
    rows = [(i, 9 + i) for i in range(8)]
    df1 = spark.createDataFrame(rows, "doc_id long, n_tok long")
    before = {
        (r["bucket_max"], r["batch_no"]): (r["n_seqs"], r["payload_tokens"])
        for r in bucketed_batches(df1, batch_size=4).collect()
    }
    # find an id whose md5 sorts before some already-batched member
    import hashlib

    existing = sorted(
        hashlib.md5(str(i).encode()).hexdigest() for i in range(8)
    )
    new_id = next(
        j
        for j in range(100, 1000)
        if hashlib.md5(str(j).encode()).hexdigest() < existing[2]
    )
    df2 = spark.createDataFrame(
        rows + [(new_id, 11)], "doc_id long, n_tok long"
    )
    after = {
        (r["bucket_max"], r["batch_no"]): (r["n_seqs"], r["payload_tokens"])
        for r in bucketed_batches(df2, batch_size=4).collect()
    }
    assert before[(16, 0)][0] == 4 and len(before) == 2
    # the append reshuffled an EXISTING batch, not just added a new one
    assert after[(16, 0)] != before[(16, 0)] or after[(16, 1)] != before[(16, 1)]
    assert (16, 2) in after  # and the overflow batch appeared


# ----------------------------------------------- attention_cost_sweep --


def test_attention_cost_sweep_consistency(spark):
    """Each (capacity, shard) row equals per-capacity
    pack_attention_cost aggregated; savings grow monotonically with
    capacity on this corpus (bigger buffers hold more docs)."""
    from bistro_spark.operators.curation import (
        attention_cost_sweep,
        pack_attention_cost,
    )

    rows = [(i, (i * 37) % 90 + 1) for i in range(160)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    caps = (64, 128, 256)
    got = {
        (r["capacity"], r["shard"]): r
        for r in attention_cost_sweep(df, capacities=caps).collect()
    }
    for cap in caps:
        per_pack = pack_attention_cost(
            df, len_col="n_tok", capacity=cap
        ).collect()
        agg: dict = {}
        for r in per_pack:
            a = agg.setdefault(r["shard"], [0, 0, 0, 0])
            a[0] += 1
            a[1] += r["payload_tokens"]
            a[2] += r["block_cost"]
            a[3] += r["full_cost"]
        for shard, (np_, pl, bc, fc) in agg.items():
            r = got[(cap, shard)]
            assert (
                r["n_packs"],
                r["payload_tokens"],
                r["block_cost"],
                r["full_cost"],
            ) == (np_, pl, bc, fc)
            assert r["savings_ppm"] == ((fc - bc) * 1_000_000) // fc
    # block cost is capacity-invariant (it is a property of the docs)
    for shard in {s for _c, s in got}:
        blocks = {got[(c, shard)]["block_cost"] for c in caps}
        assert len(blocks) == 1
        # and savings strictly grow with capacity on this corpus
        s64, s128, s256 = (
            got[(c, shard)]["savings_ppm"] for c in caps
        )
        assert s64 < s128 < s256
