"""Temporal joins Spark has no primitive for: as-of join and
bin-bucketed range join.

As-of semantics: for each left row, attach the latest right row whose
timestamp is <= the left timestamp, per key (DuckDB's ``ASOF JOIN``,
kdb's ``aj``, Pandas ``merge_asof``). The canonical pipeline use here:
purchase attribution — each purchase event joined to the user's most
recent prior view event.

Spark-first implementation (SURVEY.md custom-operator rule (a):
composition of existing DataFrame ops, no UDF): union both sides into
one ordered stream per key and carry the right side's timestamp forward
with ``last(..., ignorenulls=True)`` over an unbounded-preceding window
— one shuffle on the key, one partition-local sort; no range explosion,
no cross join.

Scale: identical shape to session windows (shuffle by key + per-key
sort-merge). Skewed keys are bounded by per-key event counts; a
pathological hot key salts on a coarse time bucket first. The naive
alternative — inequality join + per-pair max — is a quadratic range
join; never ship it.

Range-join semantics: pair rows whose timestamps fall within a band
of each other WITHOUT an equality key — the case Catalyst plans as
BroadcastNestedLoopJoin (every pair compared). ``range_join_counts``
re-expresses it as an equi-join on a time bin (each probe row explodes
into the 3 bins its band can touch; each build row sits in exactly its
own bin, so no pair is produced twice) — the standard bin-bucketing
rewrite that turns an O(n^2) nested loop into a shuffle-parallel
hash join whose per-bin cost is rate-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from flink_exercise_spark.registry import register
from flink_exercise_spark.session import prep
from flink_exercise_spark.sources.tables import load_table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Generic as-of join: left rows + latest right row with
    right_ts <= left_ts per ``on`` key.

    ``carry`` lists right-side columns to attach (each forwarded with
    its own last-ignorenulls window). Right rows sort before left rows
    at equal timestamps, so an exactly-simultaneous right row matches
    (DuckDB ASOF ``>=`` semantics).
    """
    lcols = [c for c in left.columns if c != on]
    l = left.select(
        F.col(on),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_is_left"),
        *[F.col(c) for c in lcols if c != left_ts],
        F.lit(None).cast("timestamp").alias("_rts"),
        *[
            F.lit(None).cast(dict(right.dtypes)[c]).alias(f"_r_{c}")
            for c in carry
        ],
    )
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
          for c in lcols if c != left_ts],
        F.col(right_ts).alias("_rts"),
        *[F.col(c).alias(f"_r_{c}") for c in carry],
    )
    merged = l.unionByName(r)
    w = (
        W.partitionBy(on)
        .orderBy("_t", "_is_left")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = merged.select(
        "*",
        F.last("_rts", ignorenulls=True).over(w).alias("_asof_ts"),
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in carry
        ],
    )
    keep = (
        [F.col(on), F.col("_t").alias(left_ts)]
        + [F.col(c) for c in lcols if c != left_ts]
        + [F.col("_asof_ts").alias("asof_ts")]
        + [F.col(f"asof_{c}") for c in carry]
    )
    return filled.filter(F.col("_is_left") == 1).select(*keep)


RANGE_BIN_CAP = 100_000


def range_join_hot_bins(
    events: DataFrame,
    band_secs: int = 60,
    ts: str = "ts",
    cap: int = RANGE_BIN_CAP,
) -> DataFrame:
    """The bins ``range_join_counts`` would drop at this cap, with
    sizes — the audit/monitoring channel for the capped band join."""
    band_us = band_secs * 1_000_000
    return (
        events.select(F.unix_micros(F.col(ts)).alias("_us"))
        .select(F.expr(f"_us div {band_us}").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") > cap)
    )


def range_join_counts(
    events: DataFrame,
    band_secs: int = 60,
    ts: str = "ts",
    bin_cap: int | None = RANGE_BIN_CAP,
    on_hot_bins: str = "drop",
) -> DataFrame:
    """Per-event concurrency: for each event, how many OTHER events
    (any key) occurred within ±``band_secs`` — a keyless band
    self-join.

    Why not write the predicate directly: ``l JOIN r ON abs(l.ts -
    r.ts) <= band`` has no equi-key, so Catalyst plans a
    BroadcastNestedLoopJoin — every pair compared, O(n^2) at any
    scale (plan-asserted in tests/test_asof_range.py). The rewrite:

    1. bin every event at ``band_secs`` granularity (exact integer
       microseconds — no float epoch);
    2. the PROBE side explodes into bins {b-1, b, b+1} — the only
       bins a ±band window can intersect; the BUILD side keeps its
       own bin only, so each qualifying pair meets in exactly one
       bin (the build row's) and needs no dedup;
    3. equi-join on the bin, then the exact band predicate filters
       the corner cases the coarse bin admits.

    Shuffle cost: 3x the probe rows + 1x the build rows, all narrow
    (id, micros, bin). Per-bin join work is (events-per-bin)^2 —
    bounded by the event RATE, not the corpus size, so the plan
    scales linearly in events for a fixed rate. A burst-hot bin is
    the same skew bomb as a hot LSH bucket (10^6 events in one bin =
    5*10^11 pairs from one task) and gets the same treatment:
    BUILD-side bins holding more than ``bin_cap`` events are handled
    per ``on_hot_bins`` —

    - ``"drop"`` (library default): excluded via an anti-join against
      the tiny hot-bin list; ``range_join_hot_bins`` is the audit
      channel (a capped burst's internal concurrency is better
      answered by a per-bin COUNT than by pair enumeration);
    - ``"error"``: fail LOUDLY from inside the plan (``raise_error``
      on the first build row of a hot bin, same idiom as the packed
      arg-max's range guard) — the registered query's mode, because
      its DuckDB oracle is uncapped: a silent drop on a burst-hot
      fixture would surface as an inscrutable hash mismatch instead
      of an actionable error naming the bin (ADVICE r5).

    The default cap (100k) is far above any real per-band event rate
    at which per-pair output still makes sense, and far above the
    fixtures' densest bin, so capped and uncapped results agree and
    the oracle stays green.

    Zero-neighbor events are kept with n_concurrent = 0 (left join
    back onto the input), so the output is exactly one row per event.
    """
    if on_hot_bins not in ("drop", "error"):
        raise ValueError(f"on_hot_bins must be drop|error, got {on_hot_bins!r}")
    us = F.unix_micros(F.col(ts))
    band_us = band_secs * 1_000_000
    # Integer `div`, not float division: epoch-micros magnitudes are
    # exact in BIGINT and must stay exact in the bin id.
    bin_id = F.expr(f"_us div {band_us}")
    base = events.select("event_id", us.alias("_us"))
    probe = base.select(
        "event_id",
        "_us",
        F.explode(
            F.array(bin_id - 1, bin_id, bin_id + 1)
        ).alias("_bin"),
    )
    build = base.select(
        F.col("event_id").alias("_r_id"),
        F.col("_us").alias("_r_us"),
        bin_id.alias("_bin"),
    )
    if bin_cap is not None:
        hot = (
            build.groupBy("_bin")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > bin_cap)
        )
        if on_hot_bins == "error":
            # Hot list is tiny (usually empty) — broadcast left join,
            # then raise from inside the plan on the first matched row.
            build = (
                build.join(F.broadcast(hot), "_bin", "left")
                .withColumn(
                    "_r_us",
                    F.when(
                        F.col("_n").isNotNull(),
                        F.raise_error(
                            F.concat(
                                F.lit("range_join_counts: bin "),
                                F.col("_bin"),
                                F.lit(" holds "),
                                F.col("_n"),
                                F.lit(
                                    f" events > bin_cap={bin_cap}; "
                                    "pair enumeration inside a burst "
                                    "this hot is the N^2 skew bomb — "
                                    "answer it with a per-bin COUNT "
                                    "(range_join_hot_bins) or raise "
                                    "the cap deliberately"
                                ),
                            )
                        ).cast("long"),
                    ).otherwise(F.col("_r_us")),
                )
                .drop("_n")
            )
        else:
            build = build.join(hot.select("_bin"), "_bin", "left_anti")
    pairs = probe.join(build, "_bin").filter(
        (F.abs(F.col("_r_us") - F.col("_us")) <= band_us)
        & (F.col("_r_id") != F.col("event_id"))
    )
    counts = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_concurrent")
    )
    return (
        base.select("event_id")
        .join(counts, "event_id", "left")
        .select(
            "event_id",
            F.coalesce("n_concurrent", F.lit(0)).alias("n_concurrent"),
        )
    )


@register(
    "range_join_concurrent_events",
    # Pin: tests/test_custom_op_fuzz.py quadratic-reference fuzz
    # The oracle spells the band as BETWEEN (two inequalities), which
    # DuckDB plans as an IEJoin — an abs() form defeats that and
    # nested-loops, measured unrunnable at 1M rows in ANY engine,
    # which is precisely why the engine side uses the bin-bucketed
    # rewrite (plan-asserted: no nested loop).
    oracle="""
    SELECT l.event_id,
           count(r.event_id) AS n_concurrent
    FROM events l
    LEFT JOIN events r
      ON epoch_us(r.ts) BETWEEN epoch_us(l.ts) - 60 * 1000000
                            AND epoch_us(l.ts) + 60 * 1000000
     AND r.event_id <> l.event_id
    GROUP BY l.event_id
    """,
    doc="Keyless band self-join (events within +/-60s of each other), "
        "re-expressed as a bin-bucketed equi-join — the rewrite that "
        "replaces Catalyst's BroadcastNestedLoopJoin for range "
        "predicates without an equality key. Registered in "
        "on_hot_bins='error' mode: the oracle is uncapped, so a "
        "burst-hot bin raises an actionable plan-side error instead "
        "of silently undercounting into a hash mismatch",
    tags=("range-join", "join", "events", "temporal"),
)
def q_range_join(spark, sf_dir):
    return range_join_counts(
        load_table(prep(spark), sf_dir, "events"), on_hot_bins="error"
    )


@register(
    "asof_purchase_attribution",
    # Pandas pin: tests/test_rotation_pins.py.
    # DuckDB's native ASOF JOIN is the oracle for our windowed
    # composition; >= semantics on the timestamp, per-user key.
    oracle="""
    SELECT p.user_id, p.event_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_ts,
           CAST(floor(epoch(v.ts)) AS BIGINT) AS prior_view_ts,
           v.event_id AS view_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    doc="As-of join: each purchase attributed to the user's most recent "
        "prior view (windowed union composition vs native ASOF oracle)",
    tags=("asof", "join", "events"),
)
def q_asof_attribution(spark, sf_dir):
    ev = load_table(prep(spark), sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(purchases, views, on="user_id", carry=("event_id",))
    return joined.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("purchase_ts"),
        F.unix_timestamp("asof_ts").alias("prior_view_ts"),
        F.col("asof_event_id").alias("view_event_id"),
    )
