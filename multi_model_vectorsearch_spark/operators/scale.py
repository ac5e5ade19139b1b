"""Scale infrastructure: bucketed co-located joins and skew-salted joins.

At 100 TB the dominant cost of every equi-join/agg is the shuffle. Two
standard mitigations, packaged as reusable operators:

- **Bucketing** (B4 sink generalization): persist fact tables bucketed and
  sorted by their join key. Two tables bucketed the same way join with ZERO
  Exchange — Catalyst proves co-partitioning from the catalog. This is what
  replaces `repartition()` guesswork for repeatedly-joined 100 TB tables.
- **Salting**: a hot key (power-law user, null-heavy foreign key) overloads
  one reducer. Salting splits each hot left-side key across `n_salts`
  sub-keys and replicates the matching right-side rows, so the hot key's
  rows spread over `n_salts` reducers. AQE's skew-join handles moderate
  skew automatically; salting is the explicit tool for extreme single-key
  skew. Join RESULTS are identical to the unsalted join by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multi_model_vectorsearch_spark.checkpointing import pin, pin_lazy
from multi_model_vectorsearch_spark.functions.fixedpoint import snap


def write_bucketed(df: DataFrame, table: str, key: str, n_buckets: int = 8,
                   overwrite: bool = True, path: str | None = None) -> None:
    """Persist `df` bucketed+sorted by `key` into the session catalog (B4).

    Pass `path` to create an external table at an explicit location
    (otherwise the managed warehouse dir is used).
    """
    writer = (
        df.write.format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
    )
    if path is not None:
        writer = writer.option("path", path)
    if overwrite:
        writer = writer.mode("overwrite")
    writer.saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  key: str) -> DataFrame:
    """Join two same-bucketed catalog tables — plans with no Exchange."""
    return spark.table(left_table).join(spark.table(right_table), key)


def salted_join(left: DataFrame, right: DataFrame, key: str,
                n_salts: int = 8) -> DataFrame:
    """Inner equi-join with left-side salt spread + right-side replication.

    The left side's salt is derived from a hash of the whole row (stable,
    no RNG), so each hot key's rows scatter across `n_salts` reducers; the
    right side is exploded once per salt value. Row multiplicity is
    unchanged — output equals ``left.join(right, key)`` exactly.
    """
    salt = F.pmod(F.hash(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    l_salted = left.withColumn("_salt", salt)
    r_salted = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = l_salted.join(r_salted, [key, "_salt"])
    return out.drop("_salt")


def write_partitioned(df: DataFrame, path: str, partition_col: str) -> None:
    """Hive-style partitioned parquet layout (B4): one directory per value.

    The physical layout that makes predicate-matching scans skip whole
    directories (static partition pruning) and lets joins prune at runtime
    from the dimension side (dynamic partition pruning) — the first lever
    for 100 TB fact tables.
    """
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def merge_upsert(spark: SparkSession, state_path: str, updates: DataFrame,
                 key: str) -> int:
    """MERGE-style upsert into a parquet state store (B4 / A6 generalized).

    Updated keys replace existing rows; new keys append — the Delta
    ``MERGE WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT`` semantics over
    plain parquet. The merged result is checkpointed before the overwrite
    because Spark cannot overwrite a path it is still lazily reading.
    Returns the new row count. At scale this becomes a partition-scoped
    rewrite (or a real Delta MERGE) — same call site, same semantics.
    """
    import os

    if os.path.isdir(state_path) and any(
        f.endswith(".parquet") for f in os.listdir(state_path)
    ):
        current = spark.read.parquet(state_path)
        kept = current.join(updates.select(key), key, "left_anti")
        merged = kept.unionByName(updates).transform(pin)
    else:
        merged = updates.transform(pin)
    merged.write.mode("overwrite").parquet(state_path)
    return merged.count()


def dq116_salted_agg(t: dict, n_salts: int = 16) -> DataFrame:
    """Skew-safe two-phase aggregation: salt the hot low-cardinality key,
    partially aggregate per (key, salt), then merge partials per key.

    `event_type` has ~6 values over the whole events table — the canonical
    skewed-reducer shape. Salting fans each key across ``n_salts`` reducers
    in phase 1 so no single task sees a whole key's rows; phase 2 merges
    ``n_salts`` partials per key, which is trivially small. count/sum merge
    exactly and avg is derived from merged sum/count, so the result is
    bit-identical to the direct groupBy (the oracle runs the direct form).
    Catalyst's partial aggregation does this implicitly for built-in aggs;
    the explicit form is the template for algebraic UDAF-style merges that
    hash-partial aggregation can't express.
    """
    partial = (
        t["events"]
        .withColumn("salt", F.pmod(F.col("event_id"), F.lit(n_salts)))
        .groupBy("event_type", "salt")
        .agg(
            F.count("*").alias("pc"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("ps"),
        )
    )
    merged = partial.groupBy("event_type").agg(
        F.sum("pc").cast("bigint").alias("n"),
        F.sum("ps").cast("decimal(18,2)").alias("sum_d"),
    )
    return merged.select(
        "event_type", "n",
        (F.col("sum_d") * 100).cast("bigint").alias("sum_value_cents"),
        # derived from the exact decimal sum, so both engines divide the
        # same number — no FP summation-order exposure; floor-snapped to
        # micro units (round() is not cross-engine-identical)
        snap(F.col("sum_d").cast("double") / F.col("n"))
        .alias("avg_value_micro"),
    ).orderBy("event_type")


def _norm_order(order_cols) -> list[tuple[str, bool]]:
    """Normalize order specs to ``(column_name, descending)`` pairs.
    Accepts ``"name"`` (ascending) or ``("name", "desc"|"asc")``."""
    out = []
    for oc in order_cols:
        if isinstance(oc, str):
            out.append((oc, False))
        else:
            name, d = oc
            out.append((name, str(d).lower().startswith("desc")))
    return out


def _sql_lit(v, dt_simple: str) -> str:
    """Render a collected Python value as a SQL literal of the EXACT
    column type (so struct comparisons never hit a coercion seam).
    Doubles round-trip through repr (shortest exact decimal); everything
    else parses from its string form."""
    if v is None:
        return f"CAST(NULL AS {dt_simple})"
    if dt_simple == "string":
        return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"
    if dt_simple in ("double", "float"):
        return f"CAST('{v!r}' AS {dt_simple})"
    return f"CAST('{v}' AS {dt_simple})"


def _boundaries(vals_sorted: list, n_buckets: int) -> list:
    """Thin an ascending-sorted sample to <= n_buckets-1 distinct range
    boundaries at even sample positions."""
    k = len(vals_sorted)
    nb = min(n_buckets - 1, k)
    bounds: list = []
    for i in range(nb):
        v = vals_sorted[(i + 1) * k // (nb + 1)]
        if not bounds or v > bounds[-1]:
            bounds.append(v)
    return bounds


def _bucket_sql(order: list[tuple[str, bool]], bounds: list,
                dtypes: dict) -> str:
    """One SQL expression: the row's range-bucket id = how many boundary
    tuples it sorts strictly after (desc numeric keys pre-negated into
    the ascending struct on BOTH sides)."""
    if not bounds:
        return "CAST(0 AS INT)"
    key_sql = ", ".join(
        f"'k{i}', " + (f"-`{name}`" if desc else f"`{name}`")
        for i, (name, desc) in enumerate(order))
    terms = []
    for b in bounds:
        lit = ", ".join(
            f"'k{i}', {_sql_lit(v, dtypes[order[i][0]])}"
            for i, v in enumerate(b))
        terms.append(f"(CASE WHEN named_struct({key_sql}) > "
                     f"named_struct({lit}) THEN 1 ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def global_orders_scalable(df: DataFrame, specs: list,
                           n_ranges: int = 32) -> tuple[DataFrame, int]:
    """Global ranks (and running sums / strictly-before running mins)
    WITHOUT a single-task window, for one or many independent sort orders
    over the SAME input — the sampled-boundary + offset-broadcast pattern.

    ``Window.orderBy(...)`` with no partition funnels every row through
    one task; at 100 TB that task never finishes. The scalable plan:

    1. pin ``df`` once (one materialization, reused by every pass);
    2. collect ONE bounded driver-side sample (~``n_ranges``·20 rows at
       any input size) and cut it into per-spec range boundaries — the
       boundaries become SQL literals, so a row's range-bucket is a
       deterministic map-side expression (no ``spark_partition_id``,
       hence no second pin per sort order). Descending keys are NEGATED
       so each bucket test is ONE ascending struct comparison, and the
       whole bucket column is ONE ``F.expr`` string — plan construction
       is O(1) py4j calls per spec, not O(boundaries) (the r14
       builder-wall lesson);
    3. aggregate per-bucket row counts (plus sums/mins for the requested
       running columns) for ALL specs in one grouping-sets job — an
       ``n_ranges``-row-per-spec collect — and broadcast the exclusive
       running offsets back as literal maps;
    4. rank = per-bucket row_number + the bucket's offset (windows
       partitioned by bucket id run fully parallel); running sums/mins
       likewise.

    Output is row-for-row IDENTICAL to the partitionless
    ``Window.orderBy`` form provided each spec's order is a TOTAL order
    (include a unique tie-break column) and every ``cum_sums`` input is
    integral or decimal: boundary placement only moves rows between
    PARALLEL buckets, never changes any rank, running min or exact
    running sum. A floating-point running sum is the bucket's offset
    plus its in-bucket sum, so its summation order — and its last bits
    — depend on where the boundaries fall; it matches the window form
    to rounding (relative ~1e-12 at double precision), not bit for bit.
    Replaces the r8 repartitionByRange form, which paid a
    sampling pass + an eager pin + a collect PER SORT ORDER (measured
    r15: dq238's three ntile passes ran 20 builder-time jobs; this form
    runs 4 for any number of specs).

    Contract: descending keys must be numeric (they are negated into the
    ascending struct; NaN unsupported); rows with NULL keys are only
    supported on all-ascending specs (they bucket first, matching
    Spark's asc-nulls-first). Every current caller orders by non-null
    group keys / aggregates. A spec whose sample holds no row with every
    key non-NULL has no boundary, so its bucket is a constant and its
    window one task: past ``rowsPerRange`` rows that raises
    ``ValueError`` naming the spec.

    ``specs``: ``(rank_col, order_cols, cum_sums, cum_mins)`` tuples —
    ``order_cols`` entries are ``"name"`` or ``("name", "desc")``;
    ``cum_sums``: ``(out_name, in_col)`` inclusive running sums;
    ``cum_mins``: ``(out_name, in_col)`` STRICTLY-BEFORE running mins
    (NULL for the globally first row). Returns ``(df + new columns,
    n_total)``.
    """
    from pyspark.sql import Window

    norm = [(rank_col, _norm_order(order_cols), tuple(cum_sums),
             tuple(cum_mins))
            for rank_col, order_cols, cum_sums, cum_mins in specs]
    dtypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    # lazy pin + count = ONE job that both materializes the shared
    # blocks and returns the exact n_total every ntile caller needs
    src = df.transform(pin_lazy)
    n_total = src.count()
    # scale-adaptive bucket count: ~rowsPerRange rows per range bucket,
    # capped at n_ranges — tiny inputs get tiny bucket expressions (less
    # optimizer/codegen per plan), huge inputs saturate the cap. Raise
    # the knobs on a real cluster (they are parallelism knobs, not
    # correctness knobs: any bucketing yields identical ranks, running
    # mins and integral/decimal running sums; a float running sum's
    # summation order follows the bucket offsets, so its last bits can
    # move with the bucketing).
    rows_per_range = int(df.sparkSession.conf.get(
        "spark.mmvs.gos.rowsPerRange", "16384"))
    # floor of 2: a single bucket would make the bucket column a constant,
    # which the optimizer folds out of the partition spec — recreating the
    # partitionless WindowExec this helper exists to prevent
    n_buckets = max(2, min(n_ranges, -(-n_total // rows_per_range)))
    want = n_buckets * 20
    frac = 1.0 if n_total <= want else want / n_total
    key_names = sorted({name for _, order, _, _ in norm
                        for name, _ in order})
    smp = (src.select(*key_names).sample(False, frac, seed=7).collect()
           if n_total else [])

    out = src
    plan = []  # (rank_col, order, cum_sums, cum_mins, bucket_name)
    for rank_col, order, cum_sums, cum_mins in norm:
        # negate desc keys -> every comparison is ascending
        vals = sorted(
            tuple((-r[name] if desc else r[name]) for name, desc in order)
            for r in smp
            if all(r[name] is not None for name, _ in order))
        bounds = _boundaries(vals, n_buckets)
        if not bounds and n_total > rows_per_range:
            # _bucket_sql would return a constant, which the optimizer
            # folds out of the partition spec: one task over every row
            raise ValueError(
                f"global_orders_scalable: spec {rank_col!r} ordered by "
                f"{order} sampled no non-NULL key among {n_total} rows "
                f"(> spark.mmvs.gos.rowsPerRange={rows_per_range}), so "
                "its window would be partitionless")
        bname = f"_gb_{rank_col}"
        out = out.withColumn(bname, F.expr(_bucket_sql(
            order, bounds, dtypes)))
        plan.append((rank_col, order, cum_sums, cum_mins, bname))

    # one grouping-sets job collects every spec's per-bucket counts and
    # running-column partials (grouping_id tells the sets apart)
    bnames = [p[4] for p in plan]
    aggs = [F.count("*").alias("_n")]
    for i, (_, _, cum_sums, cum_mins, _) in enumerate(plan):
        aggs += [F.sum(c).alias(f"_s{i}_{o}") for o, c in cum_sums]
        aggs += [F.min(c).alias(f"_m{i}_{o}") for o, c in cum_mins]
    if len(bnames) == 1:
        rows = out.groupBy(bnames[0]).agg(*aggs).collect()
        per_spec_rows = [rows]
    else:
        rows = (out.groupingSets([[b] for b in bnames], *bnames)
                .agg(F.grouping_id().alias("_gid"), *aggs).collect())
        per_spec_rows = []
        for i in range(len(bnames)):
            gid = sum(1 << (len(bnames) - 1 - j)
                      for j in range(len(bnames)) if j != i)
            per_spec_rows.append([r for r in rows if r["_gid"] == gid])

    for i, (rank_col, order, cum_sums, cum_mins, bname) in enumerate(plan):
        sizes = sorted(per_spec_rows[i], key=lambda r: r[bname])
        offs: dict[str, dict[int, object]] = {"_n": {}}
        acc: dict[str, object] = {"_n": 0}
        for o, _c in cum_sums:
            offs[f"_s{i}_{o}"], acc[f"_s{i}_{o}"] = {}, 0
        for o, _c in cum_mins:
            offs[f"_m{i}_{o}"], acc[f"_m{i}_{o}"] = {}, None
        for r in sizes:
            b = r[bname]
            for key in offs:
                if key.startswith("_m"):
                    if acc[key] is not None:  # exclusive prefix MIN
                        offs[key][b] = acc[key]
                    v = r[key]
                    if v is not None and (acc[key] is None
                                          or v < acc[key]):
                        acc[key] = v
                else:  # exclusive prefix SUM
                    offs[key][b] = acc[key]
                    acc[key] += r[key] or 0

        def off_sql(key: str, dt: str, bn=bname, offmaps=offs):
            m = offmaps[key]
            if not m:
                return F.expr(f"CAST(NULL AS {dt})")
            body = ", ".join(f"{b}, {_sql_lit(v, dt)}"
                             for b, v in m.items())
            return F.expr(f"element_at(map({body}), `{bn}`)")

        sort_cols = [F.col(n).desc() if d else F.col(n).asc()
                     for n, d in order]
        wp = Window.partitionBy(bname).orderBy(*sort_cols)
        out = out.withColumn(
            rank_col,
            F.row_number().over(wp)
            + F.coalesce(off_sql("_n", "bigint"), F.lit(0)))
        run = wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        for o, c in cum_sums:
            # offset literals carry the SUM's type family — a bigint cast
            # would silently truncate a floating-point running sum
            sdt = ("double" if dtypes[c] in ("double", "float")
                   else "bigint")
            out = out.withColumn(
                o, F.sum(c).over(run)
                + F.coalesce(off_sql(f"_s{i}_{o}", sdt), F.lit(0)))
        excl = wp.rowsBetween(Window.unboundedPreceding, -1)
        for o, c in cum_mins:
            out = out.withColumn(
                o, F.least(F.min(c).over(excl),
                           off_sql(f"_m{i}_{o}", dtypes[c])))
    return out.drop(*bnames), n_total



def global_order_scalable(df: DataFrame, order_cols: list,
                          rank_col: str = "r",
                          cum_sums: tuple = (),
                          cum_mins: tuple = (),
                          n_ranges: int = 32) -> tuple[DataFrame, int]:
    """Single-order form of :func:`global_orders_scalable` (see there for
    the scale argument and the output-identity contract)."""
    return global_orders_scalable(
        df, [(rank_col, order_cols, cum_sums, cum_mins)],
        n_ranges=n_ranges)


def grouped_lower_median_scalable(df, part_col: str, val_col: str,
                                  w_col: str, out_col: str,
                                  bucket) -> DataFrame:
    """Exact per-group WEIGHTED lower median — the smallest ``val_col``
    whose running ``w_col`` weight (over the group's value order, ties
    inclusive) reaches ``ceil(total/2)`` — without ever running a
    group-sized window.

    Two-phase integer-bucket selection:

    1. ``bucket`` is any MONOTONE non-decreasing integer derivation of
       ``val_col`` (e.g. ``shiftright(cents, 16)``), so its range is
       bounded by the VALUE DOMAIN, not the row count. One map-side
       aggregation collects the per-(group, bucket) weight histogram —
       a few hundred rows at any corpus size — and the driver walks each
       group's cumulative weights to find the single bucket containing
       the median plus the weight remaining inside it.
    2. One filtered pass touches ONLY the target bucket of each group:
       a per-group running weight over at most one bucket's worth of
       rows (window input bounded by the bucket width — a constant —
       times the group count), then ``min(val)`` past the target.

    Output is exactly the classic cumulative-window selection
    (``filter(cum*2 >= total)`` / ``filter(cum >= floor((n+1)/2))`` —
    both equal ``cum >= (total+1) div 2`` on integers): the window's
    default RANGE frame makes the running weight at a row the total
    weight of all values <= it, which phase 2 reproduces on the raw
    (even un-collapsed) rows. All arithmetic is exact integers up to
    the selection; ``val_col`` itself is carried untouched. Two driver
    jobs total (histogram collect + the consumer's action); no pin, no
    sampling, no group-sized sort anywhere.
    """
    from pyspark.sql import Window

    hist = (df.groupBy(part_col, bucket.alias("_mb"))
            .agg(F.sum(w_col).alias("_mw")).collect())
    per: dict[object, list] = {}
    for r in hist:
        per.setdefault(r[part_col], []).append((r["_mb"], r["_mw"]))
    targets: dict[object, tuple[int, int]] = {}
    for p, lst in per.items():
        lst.sort()
        tgt = (sum(w for _, w in lst) + 1) // 2
        cum = 0
        for mb, w in lst:
            if cum + w >= tgt:
                targets[p] = (mb, tgt - cum)  # weight still needed inside
                break
            cum += w
    if not targets:
        return (df.groupBy(part_col)
                .agg(F.min(val_col).alias(out_col)).limit(0))
    pred = None
    for p, (mb, _) in targets.items():
        term = (F.col(part_col) == F.lit(p)) & (bucket == F.lit(mb))
        pred = term if pred is None else (pred | term)
    need = F.element_at(
        F.create_map(*[F.lit(x) for p, (_, t) in targets.items()
                       for x in (p, t)]),
        F.col(part_col))
    wv = Window.partitionBy(part_col).orderBy(val_col)  # RANGE frame: ties
    return (
        df.filter(pred)
        .withColumn("_cw", F.sum(w_col).over(wv))
        .filter(F.col("_cw") >= need)
        .groupBy(part_col)
        .agg(F.min(val_col).alias(out_col))
    )



def ntile_from_rank(rank, n_total: int, n_tiles: int):
    """SQL ``NTILE(n)`` as closed-form arithmetic on a global rank: the
    first ``n_total mod n`` tiles get ``ceil(n_total/n)`` rows, the rest
    ``floor(n_total/n)`` — exactly the standard NTILE split, with no
    window at all once the rank exists."""
    base, rem = n_total // n_tiles, n_total % n_tiles
    big = base + 1
    q = (
        F.when(rank <= rem * big, (rank - 1) / big)
        .otherwise(rem + (rank - 1 - rem * big) / F.greatest(
            F.lit(base), F.lit(1)))
    )
    return (F.floor(q) + 1).cast("int")


def dq171_global_ntile_scalable(t: dict, n_tiles: int = 4,
                                n_ranges: int = 32) -> DataFrame:
    """Global ntile without a single-partition window — the two-pass
    range-partition form of dq18 (see :func:`global_order_scalable`),
    producing IDENTICAL output."""
    ranked, n_total = global_order_scalable(
        t["customer"].select("c_custkey", "c_acctbal"),
        ["c_acctbal", "c_custkey"], n_ranges=n_ranges)
    return ranked.select(
        "c_custkey",
        ntile_from_rank(F.col("r"), n_total, n_tiles).alias("q"),
    )


def dq189_zorder_layout(t: dict, bits: int = 10, bucket_bits: int = 4) -> DataFrame:
    """Z-order (Morton) data layout for multi-column data skipping: interleave
    the bits of (l_partkey, l_suppkey) into one clustering key, bucket rows
    by the key's top ``bucket_bits`` bits, and report each bucket's min/max
    range of BOTH columns — the per-file zone-map stats a lakehouse
    OPTIMIZE ZORDER BY publishes, which let a scan prune files for
    predicates on EITHER column (a linear sort only prunes its leading
    column).

    Coordinates are range-binned into the ``bits``-bit domain first (the
    monotonic min/max rescale real OPTIMIZE ZORDER uses), so a bucket's
    rows genuinely cluster in BOTH original key ranges. The bounds are a
    one-row aggregate broadcast back; the Morton spread is pure bit
    arithmetic (shift/and/or), fully JVM-side and map-only; bucketing by
    the key's top bits needs no sort at all — at 100 TB the layout pass is
    `repartition(zbucket)` + write, and this query is its zone-map audit.
    Stats prove the point: every bucket covers ~1/2^(bucket_bits/2) of
    each key's domain instead of one full domain.
    """
    def spread(col: F.Column) -> F.Column:
        # 16-bit → 32-bit bit-spread (classic magic-mask interleave).
        x = col.bitwiseAND(F.lit((1 << bits) - 1))
        x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
        x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
        x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
        x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
        return x

    li = t["lineitem"].select(
        F.col("l_partkey").cast("bigint").alias("pk"),
        F.col("l_suppkey").cast("bigint").alias("sk"),
    )
    bounds = li.agg(
        F.min("pk").alias("pk_lo"), F.max("pk").alias("pk_hi"),
        F.min("sk").alias("sk_lo"), F.max("sk").alias("sk_hi"),
    )

    def binned(col: str, lo: str, hi: str) -> F.Column:
        # monotonic rescale into [0, 2^bits): floor((v-lo)*2^bits/(hi-lo+1))
        return F.floor(
            (F.col(col) - F.col(lo)) * (1 << bits)
            / (F.col(hi) - F.col(lo) + 1)
        ).cast("bigint")

    z = spread(binned("pk", "pk_lo", "pk_hi")).bitwiseOR(
        F.shiftleft(spread(binned("sk", "sk_lo", "sk_hi")), 1)
    )
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(
            "pk", "sk",
            F.shiftrightunsigned(z, 2 * bits - bucket_bits).cast("int")
            .alias("zbucket"),
        )
        .groupBy("zbucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("pk").alias("pk_min"), F.max("pk").alias("pk_max"),
            F.min("sk").alias("sk_min"), F.max("sk").alias("sk_max"),
        )
    )


def dq201_compaction_plan(t: dict, target_rows: int = 500) -> DataFrame:
    """Small-file compaction planner: pack per-day `orders` partitions
    (the many-small-files shape a daily ingest leaves behind) into
    sequential compaction bins of ~``target_rows`` rows each, preserving
    date order so each output file stays range-prunable on o_orderdate —
    the plan an OPTIMIZE/compact job executes.

    Streaming next-fit chunker: bin = floor(exclusive-cumulative-size /
    target) over the date-ordered partition list. The running size runs
    over the PARTITION LIST (one row per day — 100 TB of data is still
    only thousands of partitions), never the data, via the
    ``global_order_scalable`` sampled-boundary pass (r15 — no
    partitionless window even here); the data movement it plans is
    repartitionByRange on the emitted bin id. All arithmetic is exact
    bigint counts. d_min/d_max are emitted as DATE, not timestamp_ntz:
    the driver's pandas canonicalizer diverges on timestamp columns
    (dq185's array failure in temporal form — this entry was driver-red
    in CORRECTNESS_r05 with timestamp_ntz outputs; dq68's DATE outputs
    have a green history since r1).
    """
    sizes = (
        t["orders"]
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.count("*").alias("n"))
    )
    # r15: the date-ordered exclusive running size comes from the
    # sampled-boundary range pass (exclusive = inclusive − n) instead of
    # a partitionless window over the per-day table
    ranked, _n = global_order_scalable(
        sizes, ["d"], rank_col="_r", cum_sums=(("_cum_in", "n"),))
    binned = ranked.withColumn(
        "bin",
        F.floor((F.col("_cum_in") - F.col("n")) / target_rows)
        .cast("bigint"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n_partitions"),
            F.sum("n").alias("total_rows"),
            F.min("d").cast("date").alias("d_min"),
            F.max("d").cast("date").alias("d_max"),
        )
    )
