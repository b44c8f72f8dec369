"""Training-data operators as a DataFrame API: deduplication and similarity.

The signature stages delegate to the dual-dialect SQL templates in
:mod:`geojson_vt_cpp_spark.functions.dialect_sql` — fully declarative Spark
SQL (Catalyst plans everything: the minhash explode is a Generate), with
DuckDB oracle parity guaranteed by construction; the pair, refinement and
clustering stages compose them as DataFrame joins and aggregates. The text
analysis templates (lang-id, quality, tf-idf, chunks, ...) run as SQL
queries only.

Scale notes (10^12 docs):
- minhash/LSH: shingle explode is narrow; the band self-join shuffles on
  (band values) — salted by band index by construction (two bands = two
  joins unioned), AQE handles residual hot buckets;
- simhash: bit votes are a two-level aggregate (partial aggregation does
  the heavy lifting before the shuffle).

Round 2 adds the clustering stage a production dedup runs after candidate
generation: ``connected_components`` (iterative min-label propagation over
the pair graph — joins + partial-aggregable min groupBys, O(diameter)
rounds, sum(label) fixpoint detection, per-round localCheckpoint; swap for
the TableIO parquet checkpoint at cluster scale) and ``dedup_clusters``
(min-doc-id canonical keeper + cluster sizes; singletons included). The
alternating large-star/small-star optimization (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — public literature) halves
round count but adds a shuffle per round; plain min-propagation wins at the
low diameters of near-dup graphs.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geojson_vt_cpp_spark.functions import dialect_sql as D


def _run(df: DataFrame, view: str, name: str, text_col: str = "text",
         id_col: str = "doc_id") -> DataFrame:
    tmp = f"{view}_{uuid.uuid4().hex[:8]}"
    sel = df.selectExpr(f"{id_col} as doc_id", f"{text_col} as text",
                        *(["lang"] if "lang" in df.columns else ["'?' as lang"]))
    sel.createOrReplaceTempView(tmp)
    sql = D.queries_sql("spark")[name].replace("documents", tmp)
    return df.sparkSession.sql(sql)


def minhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """4x60-bit minhash over char-8-gram shingles."""
    return _run(docs, "mh_sig", "dedup_minhash_signatures", text_col, id_col)


def minhash_near_dup_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """LSH band join (2 bands x 2 rows) -> candidate near-dup pairs.

    Scale shape: the signature table materializes ONCE (localCheckpoint)
    and both band joins probe it — Spark inlines multi-referenced CTEs,
    so the declarative template recomputes the shingle+min aggregate on
    every join side (measured: 10 HashAggregate subtrees, 0 reuse); fine
    for the oracle, one corpus pass here.
    """
    sig = minhash_signatures(docs, text_col, id_col).localCheckpoint()
    a = sig.select(
        F.col("doc_id").alias("doc_a"), "mh0", "mh1", "mh2", "mh3"
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("mh0").alias("n0"), F.col("mh1").alias("n1"),
        F.col("mh2").alias("n2"), F.col("mh3").alias("n3"),
    )
    lt = F.col("doc_a") < F.col("doc_b")
    p1 = a.join(b, (F.col("mh0") == F.col("n0")) & (F.col("mh1") == F.col("n1")) & lt)
    p2 = a.join(b, (F.col("mh2") == F.col("n2")) & (F.col("mh3") == F.col("n3")) & lt)
    return p1.select("doc_a", "doc_b").union(p2.select("doc_a", "doc_b")).distinct()


LSH_BUCKET_CAP = 8  # matches the dedup_minhash_pairs_capped SQL template


def minhash_near_dup_pairs_capped(
    docs: DataFrame,
    cap: int = LSH_BUCKET_CAP,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hot-bucket-capped LSH band join — the 10^12-doc form of
    :func:`minhash_near_dup_pairs`.

    A near-duplicate flood (scraped boilerplate, mirrored pages) puts ~all
    N docs into ONE band bucket, and the plain band self-join emits
    N(N-1)/2 pairs out of a single join key. AQE's skew-join split cannot
    help: the OUTPUT is quadratic, not just the partition. Production
    minhash dedup caps the bucket:

    - buckets with ``bn <= cap`` keep exact all-pairs semantics;
    - larger buckets emit STAR pairs through their min-doc_id hub —
      O(n) edges per bucket that preserve exactly the connectivity the
      pair stream feeds into (``dedup_clusters`` connected components:
      every member reaches every other through the hub).

    Per-band bucket size + hub come from one window over the band key
    (hot bucket = one O(n) task, never O(n^2)); per-task pair output is
    bounded by cap(cap-1)/2 per bucket. Oracle: the
    ``dedup_minhash_pairs_capped`` dual-dialect template (same cap).
    """
    sig = minhash_signatures(docs, text_col, id_col).localCheckpoint()
    from pyspark.sql import Window

    out = None
    for keys in (("mh0", "mh1"), ("mh2", "mh3")):
        w = Window.partitionBy(*keys)
        t = (
            sig.select("doc_id", *keys)
            .withColumn("bn", F.count(F.lit(1)).over(w))
            .withColumn("hub", F.min("doc_id").over(w))
        )
        small = t.where(F.col("bn") <= cap)
        a = small.select(F.col("doc_id").alias("doc_a"), *keys)
        b = small.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(k).alias(f"r_{k}") for k in keys],
        )
        cond = (
            (F.col(keys[0]) == F.col(f"r_{keys[0]}"))
            & (F.col(keys[1]) == F.col(f"r_{keys[1]}"))
            & (F.col("doc_a") < F.col("doc_b"))
        )
        allp = a.join(b, cond).select("doc_a", "doc_b")
        star = t.where(
            (F.col("bn") > cap) & (F.col("doc_id") != F.col("hub"))
        ).select(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        leg = allp.union(star)
        out = leg if out is None else out.union(leg)
    return out.distinct()


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit simhash per document (word-hash bit majority)."""
    return _run(docs, "simhash", "dedup_simhash", text_col, id_col)


def simhash_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash near-dup pairs: 4x4-bit Hamming-LSH bands (guaranteed
    complete for distance <= 3 by pigeonhole) refined by exact popcount —
    (doc_a, doc_b, hamming).

    Scale shape: the signature table materializes ONCE (localCheckpoint),
    then the four band joins probe it — the declarative twin in
    dialect_sql inlines the signature CTE into all eight join sides
    (8 corpus passes), which is fine for the oracle but not for 10^12
    docs. Each band join is an ordinary equi-join on a 4-bit band value
    with the band index acting as a built-in salt.
    """
    sh = simhash(docs, text_col, id_col).localCheckpoint()
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash16").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash16").alias("sh_b"))
    cand = None
    for i in range(4):
        j = a.join(
            b,
            (F.expr(f"(sh_a >> {4 * i}) % 16") == F.expr(f"(sh_b >> {4 * i}) % 16"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        cand = j if cand is None else cand.union(j)
    return (
        cand.distinct()
        .where(F.expr("bit_count(sh_a ^ sh_b) <= 3"))
        .select(
            "doc_a", "doc_b",
            F.expr("cast(bit_count(sh_a ^ sh_b) as int)").alias("hamming"),
        )
    )


def jaccard_refine(
    pairs: DataFrame,
    docs: DataFrame,
    n: int = 4,
    pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact char-n-gram Jaccard over an ARBITRARY candidate-pair DataFrame
    — the reusable refinement stage after any candidate generator
    (``minhash_near_dup_pairs``, simhash buckets, embedding buckets).

    Output: (doc_a, doc_b, n_inter, n_a, n_b, jaccard), one row per input
    pair — zero-overlap candidates keep their row with jaccard = 0.

    Scale shape: each document's DISTINCT gram set aggregates ONCE into an
    array (the shingle explode is narrow; one shuffle keyed on doc id —
    gram rows never replicate per pair), then the pair table equi-joins the
    per-doc gram arrays and intersection/union counts run in whole-stage
    codegen (``array_intersect`` + ``size``): no Python, no per-pair gram
    shuffle, and both joins are ordinary equi-joins AQE can broadcast or
    skew-split.
    """
    a, b = pair_cols
    grams = (
        docs.select(
            F.col(doc_col).alias("doc_id"),
            F.col(text_col).alias("t"),
            F.explode(
                F.expr(f"sequence(1, greatest(length({text_col}) - {n - 1}, 1))")
            ).alias("i"),
        )
        .select("doc_id", F.expr(f"substr(t, i, {n})").alias("g"))
        .groupBy("doc_id")
        .agg(F.collect_set("g").alias("grams"))
        .select("doc_id", "grams", F.size("grams").cast("bigint").alias("n_grams"))
    )
    p = pairs.select(F.col(a).alias("doc_a"), F.col(b).alias("doc_b"))
    ga = grams.select(
        F.col("doc_id").alias("doc_a"),
        F.col("grams").alias("ga"),
        F.col("n_grams").alias("n_a"),
    )
    gb = grams.select(
        F.col("doc_id").alias("doc_b"),
        F.col("grams").alias("gb"),
        F.col("n_grams").alias("n_b"),
    )
    # LEFT joins + coalesce: candidate pairs whose doc_a/doc_b are absent
    # from docs (or whose null text produced no gram row) keep their row
    # with counts 0 / jaccard 0.0, honoring the one-row-per-input-pair
    # contract for arbitrary candidate-pair inputs
    ni = F.coalesce(
        F.size(F.array_intersect("ga", "gb")).cast("bigint"), F.lit(0).cast("bigint")
    )
    na = F.coalesce(F.col("n_a"), F.lit(0).cast("bigint"))
    nb = F.coalesce(F.col("n_b"), F.lit(0).cast("bigint"))
    denom = na + nb - ni
    return (
        p.join(ga, "doc_a", "left")
        .join(gb, "doc_b", "left")
        .select(
            "doc_a",
            "doc_b",
            ni.alias("n_inter"),
            na.alias("n_a"),
            nb.alias("n_b"),
            F.when(denom > 0, F.round(ni.cast("double") / denom, 6))
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
    )


def cross_split_leakage(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Train/val decontamination: near-dup candidate pairs (minhash LSH
    bands) that STRADDLE the deterministic split — (doc_a, doc_b, split_a,
    split_b). Catching eval-set leakage before shipping is a first-class
    training-pipeline stage. Composition: the once-materialized pair
    operator joined twice against the portable-hash split assignment."""
    split_expr = (
        "case when "
        + D.hexhash(f"concat('split-', cast({id_col} as string))", "spark")
        + " % 10 < 9 then 'train' else 'val' end"
    )
    split = docs.selectExpr(f"{id_col} as doc_id", f"{split_expr} as split")
    pairs = minhash_near_dup_pairs(docs, text_col, id_col)
    sa = split.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b")
    )


def cosine_top_k(embs: DataFrame, k: int = 10, vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Brute-force cosine top-k vs the query vector (vec_id=0 by template).

    Scale shape: scores come from the shared dual-dialect formula
    (dialect_sql.cosine_scores_sql — same rounded values the DuckDB oracle
    computes), but the top-k is ``orderBy().limit(k)`` which Catalyst plans
    as TakeOrderedAndProject (map-side partial top-k per partition, k-row
    merge) — NOT the oracle's global single-task row_number window, which
    would funnel every vector through one task at 10^12 scale. The rank
    stamp window below runs over the k survivors only.
    """
    from pyspark.sql.window import Window

    tmp = f"emb_{uuid.uuid4().hex[:8]}"
    embs.selectExpr(f"{id_col} as vec_id", f"{vec_col} as embedding").createOrReplaceTempView(tmp)
    scores = embs.sparkSession.sql(D.cosine_scores_sql("spark", table=tmp))
    topk = scores.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return topk.withColumn("sim_rank", F.row_number().over(w)).select(
        "vec_id", "cosine", "sim_rank"
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "id",
    max_iters: int = 20,
    table_io=None,
    stage_prefix: str = "cc",
    stats_out: dict | None = None,
) -> DataFrame:
    """(id, component) for every node; component = min node id reachable.

    ``edges`` may be directed pairs (a < b is fine) — they are symmetrized
    here. Nodes absent from ``edges`` keep themselves as their component
    (singleton clusters).

    Skew shape: a hub node of a giant component puts all its edges on one
    join key, which AQE skew-split handles, and the per-round
    ``groupBy(id).agg(min)`` is partial-aggregable so the hub's fan-in is
    absorbed map-side (measured: ``scripts/cc_hot_component_bench.py``).

    ``table_io`` (a :class:`~geojson_vt_cpp_spark.sources.table_io.TableIO`)
    swaps the per-round ``localCheckpoint`` for manifest-gated parquet
    stages (``{stage_prefix}_edges``, ``{stage_prefix}_round_NN``) — the
    cluster-scale path: a killed run resumes at the last completed round.
    ``stats_out`` (a dict) receives ``rounds`` — the number of propagation
    rounds until the sum fixpoint confirmed.
    """
    spark = edges.sparkSession
    n_parts = max(spark.sparkContext.defaultParallelism * 2, 8)

    def ckpt(df: DataFrame, key: str, name: str, inputs: tuple = ()) -> tuple[DataFrame, str]:
        if table_io is None:
            return df.repartition(n_parts, key).localCheckpoint(), ""
        res = table_io.run_stage(
            f"{stage_prefix}_{name}",
            lambda: df.repartition(n_parts, key),
            inputs=inputs,
            fingerprint=f"cc|max_iters={max_iters}",
        )
        return res.df, res.snapshot_id

    sym, sym_snap = ckpt(
        edges.select(F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst"))
        .unionByName(
            edges.select(F.col(dst).cast("long").alias("src"), F.col(src).cast("long").alias("dst"))
        ),
        "dst",
        "edges",
    )
    labels = nodes.select(
        F.col(node_col).cast("long").alias("id"),
        F.col(node_col).cast("long").alias("comp"),
    )
    prev_sum = None
    prev_snap = sym_snap
    converged = False
    rounds = 0
    # max_iters label-changing rounds PLUS one confirming round: the sum
    # fixpoint needs an extra pass to observe no change, so a graph whose
    # diameter equals max_iters exactly must not spuriously raise.
    for i in range(max_iters + 1):
        msgs = sym.join(labels, sym["dst"] == labels["id"]).select(
            F.col("src").alias("id"), "comp"
        )
        nxt = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        labels, prev_snap = ckpt(nxt, "id", f"round_{i:02d}", (sym_snap, prev_snap))
        rounds = i + 1
        cur_sum = labels.agg(F.sum("comp")).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if stats_out is not None:
        stats_out["rounds"] = rounds
    if not converged:
        # min-label propagation needs O(component diameter) rounds; returning
        # here would silently hand back wrong labels (and dedup_clusters
        # would pick wrong keepers), so fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge within max_iters={max_iters} "
            "rounds (component diameter exceeds the bound); raise max_iters"
        )
    return labels


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame,
    pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
    doc_col: str = "doc_id",
    max_iters: int = 20,
    stats_out: dict | None = None,
) -> DataFrame:
    """Near-dup pair graph -> (doc_id, cluster_id, cluster_size, is_keeper).

    cluster_id is the min doc_id in the component; the keeper is that
    canonical doc (is_keeper=1). Every document appears — docs with no
    near-dup pair form singleton clusters of size 1.
    """
    comp = connected_components(
        pairs, docs, src=pair_cols[0], dst=pair_cols[1], node_col=doc_col,
        max_iters=max_iters, stats_out=stats_out,
    ).select(F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id"))
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_keeper"),
    )
