"""End-to-end training-data preparation: the funnel an LLM data
pipeline runs over a raw document corpus, composed entirely from the
engine's already-gated operators — every stage keeps its individually
audited 100 TB plan shape, and nothing materializes on the driver.

Stages (each optional via parameters):

1. quality gate        — `text.quality_score` boolean bands (filter)
2. decontamination     — `dedup.contamination_overlap` vs an eval set
                         (broadcast eval shingles; train side never
                         shuffles for the join)
3. exact dedup         — `dedup.exact_dedup` (one hash-agg)
4. near-dup removal    — MinHash-LSH pairs -> connected components ->
                         canonical survivors (banded equi-join, never
                         quadratic)
5. PII scrub           — `text.pii_scrub` (zero-shuffle regexp)
6. chunking            — `text.chunk_documents` (zero-shuffle)
7. mix sampling        — `sketch.stratified_sample` per-source quotas
                         (deterministic hash-rank draw)
8. JSONL export        — `sources.export.export_jsonl` (gzip shards)

The single shingle pass (stage 2's and 4's shared input) is computed
once and reused, mirroring the session-shared pass the gate queries
use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_database_spark.operators import dedup as dd
from vector_database_spark.operators import sketch as sk
from vector_database_spark.operators import text as tx


def prepare_training_data(
    docs: DataFrame,
    *,
    eval_docs: DataFrame | None = None,
    contamination_max_frac: float = 0.5,
    jaccard_threshold: float = 0.5,
    chunk_size: int = 32,
    chunk_stride: int = 24,
    quotas: DataFrame | None = None,
    strata_col: str = "source",
    out_path: str | None = None,
) -> DataFrame:
    """Run the full prep funnel over ``docs`` (doc_id, text, and
    optionally ``strata_col`` for mix sampling). Returns the final
    chunk-level DataFrame ``(doc_id, chunk_id, n_chunk_tokens,
    chunk_text)`` (plus ``strata_col`` when sampling); writes gzip
    JSONL shards when ``out_path`` is given.

    ``eval_docs``: benchmark/eval documents (same schema); training
    docs whose shingle overlap fraction exceeds
    ``contamination_max_frac`` are dropped. ``quotas``: per-stratum
    (strata_col, quota) table for the mix draw; None keeps every
    surviving document.
    """
    # 1. quality gate — one narrow projection + semi join on doc_id
    q = tx.quality_score(docs)
    keep = docs.join(
        q.where(F.col("len_ok") & F.col("wordlen_ok") & F.col("stop_ok"))
        .select(F.col("id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )

    # shared shingle pass for stages 2 and 4, pinned so the tokenize
    # kernel runs once for every consumer subtree (decontamination,
    # signatures, refinement). A lazy localCheckpoint, as in
    # `dd.minhash_dedup_pairs`: persist() is matched by plan, which
    # self-joins over RDD-backed inputs can miss, and its cache entry
    # would outlive the call (the pin is freed with its DataFrame)
    shingles = dd.shingle_rows(keep).localCheckpoint(eager=False)

    # 2. decontamination — broadcast eval shingles, train never shuffles
    if eval_docs is not None:
        ov = dd.contamination_overlap(shingles, dd.shingle_rows(eval_docs))
        clean_ids = ov.where(
            F.col("n_overlap") / F.col("n_shingles")
            <= F.lit(float(contamination_max_frac))
        ).select(F.col("id").alias("doc_id"))
        keep = keep.join(clean_ids, "doc_id", "left_semi")
        shingles = shingles.join(
            clean_ids.select(F.col("doc_id").alias("id")), "id", "left_semi"
        )

    # 3. exact dedup — keep one representative per normalized text
    reps = dd.exact_dedup(keep).select(F.col("rep_id").alias("doc_id"))
    keep = keep.join(reps, "doc_id", "left_semi")
    shingles = shingles.join(
        keep.select(F.col("doc_id").alias("id")), "id", "left_semi"
    )

    # 4. near-dup removal — canonical survivor per connected component
    pairs = dd.minhash_dedup_pairs(
        keep, threshold=float(jaccard_threshold), shingles=shingles
    )
    groups = dd.dedup_groups(keep, pairs)
    keep = keep.join(
        groups.where(F.col("is_canonical") == 1).select("doc_id"),
        "doc_id",
        "left_semi",
    )

    # 7 (placement: before the wide chunk fan-out so the draw scans
    # documents, not chunks). mix sampling — deterministic hash-rank
    if quotas is not None:
        drawn = sk.stratified_sample(keep, [strata_col], "doc_id", quotas)
        keep = keep.join(drawn.select("doc_id"), "doc_id", "left_semi")

    # 5. PII scrub — zero-shuffle regexp projection
    scrub_cols = [c for c in keep.columns if c != "text"]
    scrubbed = (
        tx.pii_scrub(keep)
        .select(F.col("id").alias("doc_id"), F.col("scrubbed").alias("text"))
        .join(keep.select(*scrub_cols), "doc_id")
    )

    # 6. chunking — zero-shuffle narrow fan-out
    chunks = tx.chunk_documents(
        scrubbed, size=int(chunk_size), stride=int(chunk_stride)
    )
    if strata_col in scrubbed.columns:
        chunks = chunks.join(
            scrubbed.select("doc_id", strata_col), "doc_id"
        )

    # 8. JSONL export
    if out_path is not None:
        from vector_database_spark.sources.export import export_jsonl

        export_jsonl(chunks, out_path)
    return chunks


def shard_training_data(
    df: DataFrame,
    *,
    id_cols: tuple = ("doc_id", "chunk_id"),
    n_shards: int = 16,
    seed: str = "shard",
) -> DataFrame:
    """Deterministic global shuffle + sharding — the final stage of a
    training-data pipeline: every example gets a shard (md5 of its
    identity and a seed, mod n_shards) and a stable within-shard sort
    key, so ANY run over the same corpus produces byte-identical
    shards regardless of partitioning, cluster size, or input order
    (the property epoch-reproducible training needs). Appends
    (shard, sort_key); write with
    ``df.repartition('shard').sortWithinPartitions('sort_key')`` or
    `sources.export.export_jsonl(..., partition_cols=['shard'])`.

    The hash is the repo's engine-portable md5->BIGINT trick, so the
    assignment is replayable in any engine (p07's oracle). One
    zero-shuffle projection; the physical shuffle happens once at
    write time on the `shard` key."""
    from vector_database_spark.functions.hashing import h60

    ident = F.concat_ws(
        ":",
        F.lit(str(seed)),
        *[F.col(c).cast("string") for c in id_cols],
    )
    h = h60(ident)  # the repo's one engine-portable md5->60-bit hash
    return df.select(
        "*",
        F.pmod(h, F.lit(int(n_shards))).cast("int").alias("shard"),
        h.alias("sort_key"),
    )


def pack_sequences(
    df: DataFrame,
    *,
    capacity: int = 128,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "pack",
) -> DataFrame:
    """Sequence packing — the LLM-trainer step that concatenates
    documents into fixed-capacity training sequences (a.k.a. example
    packing): walk each shard's documents in deterministic order and
    greedily fill bins of `capacity` tokens; a document that would
    overflow starts the next bin (an oversized document occupies a
    bin alone; it is never split).

    Output: ``(doc_id, shard, n_tok, pack_id, seq_offset)`` where
    `pack_id` is the bin index within the shard and `seq_offset` is
    the document's token offset inside its bin.

    100 TB shape: the greedy scan is inherently sequential PER SHARD
    but embarrassingly parallel ACROSS shards — exactly how real
    trainers pack (per output shard). Token counts are computed as
    JVM expressions BEFORE the shuffle, so only (id, shard, n_tok)
    rows — a few bytes each, never the text — move into the
    per-shard `applyInPandas` kernel; the kernel is O(rows) with O(1)
    state. Shard assignment is the repo's engine-portable md5 hash,
    so the whole operator (assignment, order, greedy fill) is
    replayable bit-for-bit by a SQL engine: the p08 oracle replays
    the greedy walk with one recursive CTE per shard row-chain.
    """
    from vector_database_spark.functions.hashing import h60

    cap = int(capacity)
    ident = F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
    # explicit ASCII whitespace class, not \s+: Java regex \s includes
    # \x0B while RE2 (the DuckDB oracle) does not — the t14 hazard
    # class; the explicit class is identical in Java/RE2/python-re
    n_tok = F.when(
        F.col(text_col).isNull()
        | (F.length(F.trim(F.col(text_col))) == 0),
        F.lit(0),
    ).otherwise(
        F.size(F.split(F.trim(F.col(text_col)), "[\\t\\n\\f\\r ]+"))
    )
    slim = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.pmod(h60(ident), F.lit(int(n_shards))).cast("int").alias("shard"),
        n_tok.cast("long").alias("n_tok"),
    )

    def kern(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        packs, offs = [], []
        acc, pack = 0, 0
        for i, tok in enumerate(pdf["n_tok"]):
            tok = int(tok)
            if i == 0:
                acc = tok
                offs.append(0)
            elif acc + tok > cap:
                pack += 1
                acc = tok
                offs.append(0)
            else:
                offs.append(acc)
                acc += tok
            packs.append(pack)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "shard": pdf["shard"].astype("int32"),
                "n_tok": pdf["n_tok"].astype("int64"),
                "pack_id": pd.Series(packs, dtype="int64"),
                "seq_offset": pd.Series(offs, dtype="int64"),
            }
        )

    return slim.groupBy("shard").applyInPandas(
        kern,
        "doc_id long, shard int, n_tok long, pack_id long, seq_offset long",
    )


def temperature_quotas(
    df: DataFrame,
    strata_cols: list[str],
    *,
    alpha: float = 0.5,
    target_total: int = 200,
) -> DataFrame:
    """Temperature-scaled source-mixing quotas — the multilingual /
    multi-domain data-mixing rule (UniMax-style): stratum s gets
    ``quota_s = min(floor(T · n_s^α / Σ_t n_t^α), n_s)``. α = 1
    is proportional sampling, α = 0 uniform; α = 0.5 (the default)
    is the square-root temperature that upweights small sources
    without flooding the mix — and is also the cross-engine-exact
    choice: sqrt is IEEE exact-rounded everywhere, while a general
    pow() goes through libm (engine-only; don't gate other alphas).

    The per-stratum counts are a tiny driver-side collect (one row
    per source — the bounded-smallness rule centroids follow); the
    normalizer folds in SORTED strata order so an external SQL
    replay (`list_sum(list(sqrt(n) ORDER BY source))`) is
    bit-identical. Feed the result straight into
    `sketch.stratified_sample` for the deterministic hash-rank draw.
    """
    import math

    a = float(alpha)
    rows = sorted(
        df.groupBy(*strata_cols).count().collect(),
        # stringify for ordering: NULL strata and non-string strata
        # types must not crash the sorted-fold (the VALUES pass
        # through untouched; only the fold order needs a total order,
        # and the oracle's ORDER BY must use the same key form)
        key=lambda r: tuple(
            (r[c] is None, str(r[c])) for c in strata_cols
        ),
    )
    if not rows:
        raise ValueError("temperature_quotas: empty input")

    def w(n: int) -> float:
        if a == 0.5:
            return math.sqrt(float(n))
        if a == 1.0:
            return float(n)
        if a == 0.0:
            return 1.0
        return math.pow(float(n), a)

    z = 0.0
    for r in rows:  # sorted-strata fold order — the oracle's list_sum
        z += w(int(r["count"]))
    t = float(int(target_total))
    out = [
        tuple(r[c] for c in strata_cols)
        + (min(int(math.floor(t * w(int(r["count"])) / z)), int(r["count"])),)
        for r in rows
    ]
    # derive strata types from the INPUT schema — hardcoding string
    # would crash createDataFrame for integer strata columns
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField(c, df.schema[c].dataType, True)
            for c in strata_cols
        ]
        + [StructField("quota", LongType(), False)]
    )
    return df.sparkSession.createDataFrame(out, schema)


def semantic_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    threshold: float,
    id_col: str = "id",
    vector_col: str = "vector",
    eval_id_col: str = "id",
    eval_vector_col: str = "vector",
) -> DataFrame:
    """Embedding-level train/eval decontamination — the semantic
    complement of the n-gram `dedup.contamination_overlap` (p02): a
    paraphrased benchmark item shares no 13-gram with its leaked twin
    but sits at cosine ~1 in embedding space.

    Per train row: the max cosine against the WHOLE eval set, the
    arg-max eval id (ties -> smallest id), and the contamination flag
    ``max_cos >= threshold``. Exact — every train x eval pair is
    scored.

    Scale shape: eval sets are small (benchmark suites, thousands of
    rows) and the train side is the 100 TB one, so the eval table is
    BROADCAST and the train table is scanned exactly once — the
    crossJoin(broadcast) is the engine's deliberate knn scan shape
    (v03), the per-train max is a partially-aggregated (map-side
    combined) struct max — struct buffers take Spark's SortAggregate
    fallback, the documented trade-off — and the train table never
    shuffles raw rows, only per-train partials. The cosine is the engine-portable
    fold (`functions.vector.cosine_similarity`), so the whole output
    is SQL-replayable bit-for-bit. For an eval set too big to
    broadcast, block it through `dedup.embedding_neardup_pairs`'s
    pair decomposition instead.
    """
    t = train.select(
        F.col(id_col).alias("train_id"), F.col(vector_col).alias("_tv")
    )
    e = eval_df.select(
        F.col(eval_id_col).alias("_eid"),
        F.col(eval_vector_col).alias("_ev"),
    )
    from vector_database_spark.functions.vector import cosine_similarity

    scored = t.crossJoin(F.broadcast(e)).select(
        "train_id",
        "_eid",
        cosine_similarity(F.col("_tv"), F.col("_ev")).alias("_cos"),
    )
    # argmax with a deterministic smallest-id tie-break via one
    # orderable-struct max (no window: stays a hash aggregate)
    best = scored.groupBy("train_id").agg(
        F.max(F.struct(F.col("_cos"), (-F.col("_eid")).alias("_n"))).alias(
            "_b"
        )
    )
    return best.select(
        "train_id",
        F.col("_b._cos").alias("max_cos"),
        (-F.col("_b._n")).cast("long").alias("nearest_eval_id"),
        (F.col("_b._cos") >= F.lit(float(threshold))).alias("contaminated"),
    )


def allocate_budget(
    domains: DataFrame,
    *,
    domain_col: str = "domain",
    weight_col: str = "weight",
    budget: int,
) -> DataFrame:
    """Deterministic largest-remainder apportionment of an integer
    training budget (tokens, documents, samples) across domains
    proportionally to integer weights — the data-mixing allocator
    (e.g. "spread 1B training tokens over sources by their corpus
    sizes"): ``(domain, weight, share, alloc)`` with
    ``sum(alloc) == budget`` exactly and ``alloc`` within 1 of the
    real-valued proportion (the largest-remainder / Hamilton method
    guarantee). Pure integer arithmetic end-to-end: base share =
    ``budget * w div W`` (floor — all operands nonnegative), the
    leftover seats go to the largest remainders ``budget * w mod W``
    (ties broken by domain ascending — a total order, so the output
    is engine-portable and the p12 gate hash-matches a SQL replay).

    Scale note: ``domains`` is an AGGREGATE table by construction
    (one row per source/domain — dozens, not billions); the total and
    the remainder ranking run over that small frame (one broadcast
    total + one window). The corpus-sized work is producing the
    weights, which is the caller's one groupBy."""
    from pyspark.sql.window import Window

    if int(budget) < 0:
        raise ValueError("budget must be >= 0")
    d = domains.select(
        F.col(domain_col).alias("domain"),
        F.col(weight_col).cast("long").alias("weight"),
    )
    # domains is a tiny aggregate table (one row per source) — a
    # driver-side sanity collect is cheap and turns the two silent
    # failure modes (ANSI divide-by-zero on total weight 0; negative
    # weights breaking the floor-division apportionment) into errors
    # Sum in DECIMAL(38,0), not BIGINT: total weight >= ~9.2e18 is
    # plausible in exactly the token-scale regime this op targets,
    # and an ANSI sum overflow here would fail the guard itself.
    chk = d.groupBy().agg(
        F.sum(F.col("weight").cast("decimal(38,0)")).alias("_w"),
        F.min("weight").alias("_mn"),
    ).first()
    if chk["_mn"] is not None and chk["_mn"] < 0:
        raise ValueError("allocate_budget: weights must be >= 0")
    if chk["_w"] is None or chk["_w"] <= 0:
        raise ValueError("allocate_budget: total weight must be > 0")
    # budget * weight in DECIMAL(38,0): a 1e9-token budget times
    # token-scale weights (~1e12) overflows BIGINT (~9.2e18). div
    # (IntegralDivide) accepts decimals and returns BIGINT; % stays
    # decimal and only feeds the remainder ranking.
    tot = d.groupBy().agg(
        F.sum(F.col("weight").cast("decimal(38,0)")).alias("_w")
    )
    b = F.lit(int(budget)).cast("long")
    x = (
        d.crossJoin(F.broadcast(tot))
        .withColumn(
            "_prod",
            F.lit(int(budget)).cast("decimal(19,0)")
            * F.col("weight").cast("decimal(19,0)"),
        )
        .withColumn("share", F.expr("_prod div _w"))
        .withColumn("_rem", F.col("_prod") % F.col("_w"))
    )
    w_left = Window.partitionBy(F.lit(1))
    w_rank = Window.partitionBy(F.lit(1)).orderBy(
        F.col("_rem").desc(), F.col("domain").asc()
    )
    out = (
        x.withColumn("_left", b - F.sum("share").over(w_left))
        .withColumn("_rk", F.row_number().over(w_rank))
        .withColumn(
            "alloc",
            F.col("share")
            + F.when(F.col("_rk") <= F.col("_left"), F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
    )
    return out.select(
        "domain", "weight", "share", F.col("alloc").cast("long").alias("alloc")
    )


def curriculum_phases(
    df: DataFrame,
    *,
    score_col: str,
    id_col: str = "doc_id",
    n_phases: int = 4,
    ascending: bool = True,
    partitions: int | None = None,
) -> DataFrame:
    """Curriculum-learning phase assignment: rank the corpus by a
    difficulty/quality score (classic curricula order by length —
    integer, engine-portable) and split the ranking into
    ``n_phases`` SQL-standard ntile buckets (the first ``n % k``
    phases get the extra row). Returns
    ``(id, score, rank, phase)`` with rank 1-based over
    (score, id) — the deterministic total order.

    SCALE SHAPE — exact global ntile WITHOUT a single-task global
    window: `repartitionByRange` + `sortWithinPartitions` is Spark's
    parallel total sort; per-partition counts collect to the driver
    (≤ #partitions longs), cumulative offsets join back broadcast,
    and the within-partition `row_number` (parallel — partitioned by
    the range partition id) plus its offset IS the exact global
    rank. Phase comes from the rank by integer arithmetic, so a
    DuckDB row_number replay hash-matches. Range boundaries are
    sampled, but the output is boundary-independent: any split of
    the sorted order yields the same offsets + ranks."""
    if int(n_phases) < 1:
        raise ValueError("n_phases must be >= 1")
    spark = df.sparkSession
    sdf = df.select(F.col(id_col).alias("_id"), F.col(score_col).alias("_s"))
    order = [
        F.col("_s").asc() if ascending else F.col("_s").desc(),
        F.col("_id").asc(),
    ]
    nparts = int(
        partitions or spark.sparkContext.defaultParallelism or 8
    )
    ranged = (
        sdf.repartitionByRange(nparts, *order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)  # pin: counts + ranks must see
        # the SAME physical partitioning
    )
    cnts = {
        int(r["_pid"]): int(r["c"])
        for r in ranged.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    n = sum(cnts.values())
    # n == 0 flows through the main path (empty offset frame, base=0
    # branch): the empty result then carries the INPUT's id/score
    # dtypes exactly — a hardcoded empty schema disagreed with double
    # scores in unions (round-9 ADVICE)
    offs, acc = [], 0
    for p in sorted(cnts):
        offs.append((p, acc))
        acc += cnts[p]
    off_df = spark.createDataFrame(offs, "_pid int, _off long")
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("_pid").orderBy(*order)
    k = int(n_phases)
    base, rem = n // k, n % k
    cut = rem * (base + 1)
    ranked = ranged.join(F.broadcast(off_df), "_pid").withColumn(
        "rank", (F.col("_off") + F.row_number().over(w)).cast("long")
    )
    if base == 0:
        phase = F.col("rank")  # n < k: one row per phase, rank IS it
    else:
        phase = F.when(
            F.col("rank") <= F.lit(cut),
            F.expr(f"(rank - 1) div {base + 1}") + F.lit(1),
        ).otherwise(
            F.lit(rem) + F.expr(f"(rank - {cut} - 1) div {base}") + F.lit(1)
        )
    return ranked.select(
        F.col("_id").alias(id_col),
        F.col("_s").alias(score_col),
        "rank",
        phase.cast("long").alias("phase"),
    )


def leakage_safe_split(
    groups: DataFrame,
    *,
    id_col: str = "doc_id",
    group_col: str = "group_id",
    train_pct: int = 80,
    salt: int = 13,
) -> DataFrame:
    """Near-dup-aware train/eval split: assign each document the
    split of its whole near-duplicate GROUP, so train and eval can
    never share near-duplicates (the contamination mechanism measured
    by Lee et al., "Deduplicating Training Data Makes Language Models
    Better" — eval examples with train-side near-dups score
    inflated). Input is a (id, group) frame — e.g. the output of
    `dedup.dedup_groups` / `connected_components`, where ``group_id``
    is the component's canonical min id; singletons are their own
    group. The bucket is the salted 60-bit md5 hash of the group id
    mod 100 (`functions.hashing.h60` — cross-engine exact), so the
    assignment is deterministic, reproducible across runs/engines,
    and stable under corpus growth (a group keeps its split as long
    as its canonical id survives; merging two groups adopts the
    merged canonical's split — never a train+eval straddle).

    Returns ``(id, group, bucket, split)`` with split in
    {'train', 'eval'} and ``bucket`` in [0, 100) exposed so callers
    can re-cut without re-hashing.

    SCALE SHAPE: one stateless projection over the groups frame —
    zero shuffles, zero collects; composes with a 100 TB groups table
    as a map-only stage.
    """
    from vector_database_spark.functions.hashing import h60

    pct = int(train_pct)
    if not (0 <= pct <= 100):
        raise ValueError(f"train_pct must be in [0, 100], got {train_pct!r}")
    bucket = F.pmod(
        h60(F.col(group_col).cast("string"), salt=int(salt)), F.lit(100)
    ).cast("int")
    return groups.select(
        F.col(id_col),
        F.col(group_col),
        bucket.alias("bucket"),
        F.when(bucket < F.lit(pct), F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    )
