"""Join operators (SURVEY.md §2.4): equi / left-chain / star / anti / fuzzy.

Scale stance: dims are broadcast (explicitly via ``F.broadcast`` for the ones
we know are small — dim_time, dim_places-scale lookups — and via AQE for the
rest); the fact side never moves except for the final aggregation shuffle.
The fuzzy join has two tiers: exact-window top-1 (small dim) and a blocked
variant for scale (see dedup.minhash for the LSH machinery it reuses).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def star_join(fact: DataFrame, dims: list[tuple[DataFrame, Column | str]], broadcast_dims: bool = True) -> DataFrame:
    """Fact × N dims (J5 — ``d_gmaps_mart_review_trends.py:86-93``). Each dim
    is inner-joined on its condition; small dims are broadcast so the fact
    table streams through N broadcast-hash joins without a shuffle."""
    out = fact
    for dim, cond in dims:
        d = F.broadcast(dim) if broadcast_dims else dim
        out = out.join(d, cond, "inner")
    return out


def left_join_chain(base: DataFrame, steps: list[tuple[DataFrame, Column | str]]) -> DataFrame:
    """Chained LEFT joins (J3/J4 — ``create_dim_attraction_type.py:88-96``)."""
    out = base
    for right, cond in steps:
        out = out.join(right, cond, "left")
    return out


def anti_join(new: DataFrame, existing: DataFrame, key: str | list[str]) -> DataFrame:
    """NOT IN subquery as LEFT ANTI (J7 —
    ``create_dim_attraction_hashtag.py:187-190``). Catalyst's
    RewritePredicateSubquery produces exactly this plan for NOT IN on
    non-nullable keys."""
    return new.join(existing, key, "left_anti")


def lookup_join(df: DataFrame, dim: DataFrame, key: str | list[str], how: str = "left") -> DataFrame:
    """Broadcast lookup join (J8) — the reference does this as a driver-side
    Python dict (``fb_scraper/facebook_scraper.py:23-25,122``); here it's a
    real broadcast-hash join so it distributes."""
    return df.join(F.broadcast(dim), key, how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: tuple[str, str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    tie_break: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the right row with the greatest
    ``right_ts`` ≤ ``left_ts`` within the same key (LEFT semantics — no
    match → NULL values). Not in the reference's surface (SURVEY §2.4 "not
    present") but table stakes for a training-data/feature pipeline
    (point-in-time-correct feature lookup).

    Physical shape, chosen for scale: tag + union both inputs, ONE shuffle
    on (key), and a running ``last(value, ignorenulls)`` window ordered by
    (ts, side, tie) — right rows sort before left rows at equal timestamps
    so same-instant matches count. No range cross-join, no per-left probe:
    cost is a single sort per key partition, the same shape at 100 TB as at
    sf0.01 (AQE splits skewed keys). ``tie_break`` resolves multiple right
    rows at the same timestamp to the one with the greatest tie value.
    """
    lk, rk = on
    payload = F.struct(*[F.col(c) for c in value_cols]).alias("__v")
    r = right.select(
        F.col(rk).alias("__k"),
        F.col(right_ts).cast("timestamp").alias("__t"),
        F.lit(0).alias("__side"),
        (F.col(tie_break) if tie_break else F.lit(0)).alias("__tie"),
        payload,
        *[F.lit(None).cast(t) for _, t in _typed_nulls(left)],
    )
    l = left.select(
        F.col(lk).alias("__k"),
        F.col(left_ts).cast("timestamp").alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(0).alias("__tie"),
        F.lit(None).cast(r.schema["__v"].dataType).alias("__v"),
        *left.columns,
    )
    u = l.unionByName(r.toDF(*l.columns))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side", "__tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn("__match", F.last("__v", ignorenulls=True).over(w))
    return filled.filter(F.col("__side") == 1).select(
        *left.columns, *[F.col(f"__match.{c}").alias(c) for c in value_cols]
    )


def _typed_nulls(df: DataFrame) -> list[tuple[str, str]]:
    """(name, ddl-type) pairs for building NULL columns matching ``df``."""
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: tuple[str, str],
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Interval join: pairs where ``left_ts ≤ right_ts < left_ts + window``
    within the same key. Also not in the reference's surface (SURVEY §2.4)
    but required the moment events must attribute to a preceding action.

    A naive theta-join degenerates to per-key cross products (Spark plans
    BroadcastNestedLoop for pure inequality conditions). Here both sides are
    bucketed to ``window_seconds`` granularity; a left row can only match
    right rows in its own or the next bucket, so the left side explodes into
    2 bucket replicas and the join is a plain equi-join on (key, bucket) +
    an exact range filter. Shuffle volume is 2·|left| + |right| rows — the
    standard interval-join decomposition, AQE-skew-splittable.
    """
    lk, rk = on
    lb = (F.unix_timestamp(F.col(left_ts)) / window_seconds).cast("long")
    rb = (F.unix_timestamp(F.col(right_ts)) / window_seconds).cast("long")
    l = left.withColumn("__b", F.explode(F.array(lb, lb + 1)))
    r = right.withColumn("__b", rb)
    lcol, rcol = F.col(left_ts).cast("timestamp"), F.col(right_ts).cast("timestamp")
    return (
        l.join(r, (F.col(lk) == F.col(rk)) & (l["__b"] == r["__b"]))
        .filter(
            (rcol >= lcol)
            & (rcol < F.timestamp_add("SECOND", F.lit(window_seconds), lcol))
        )
        .drop("__b")
    )


#: Sentinel distance for "no candidate within the prune threshold" — larger
#: than any real Levenshtein distance over string columns.
_NO_MATCH = 1 << 30


def fuzzy_top1_join(
    df: DataFrame,
    dim: DataFrame,
    left_col: str,
    right_col: str,
    *,
    max_distance: int | None = None,
    prune_threshold: int | None = None,
    tie_break: list[str] | None = None,
    max_pairs: int | None = 100_000_000,
) -> DataFrame:
    """Best-fuzzy-match join (J9 — ``airflow/utils/common.py:22-28``'s
    fuzzywuzzy.extractOne): for every left row, the dim row with minimum
    Levenshtein distance to ``left_col``, with a ``distance`` column added.

    Physical shape, chosen for scale: the left side is repartitioned to full
    parallelism (small single-file inputs otherwise pin the whole cross
    product to one task), dim is broadcast, and the top-1 is a **map-side
    partial MIN over a comparable struct** (distance, match, tie-break…,
    payload) — the pair space is reduced inside each scan partition and
    never shuffled, unlike a window over the cross product which must
    shuffle+sort |left|×|dim| rows. Deterministic: ties break on the match
    string, then the caller's tie_break columns.

    Left rows must be distinct (they form the group key). Column names of
    ``df`` and ``dim`` must not overlap. For dims too large to broadcast,
    block candidates first with the LSH machinery in operators.dedup, then
    apply the same aggregation.

    ``prune_threshold=t`` keeps the result EXACT while cutting per-pair
    cost: phase 1 scores every pair with the *banded* three-arg
    ``levenshtein(l, r, t)`` — O(t·n) instead of O(n²) character work, with
    an O(1) length-difference bail-out — mapping its ``-1`` ("> t") to a
    sentinel that loses every MIN. Any left row whose true best distance is
    ≤ t gets its exact global top-1 from this pass alone. Only rows whose
    best candidate is farther than ``t`` (detected from the tiny persisted
    |left|-row aggregate — the one driver scalar, same pattern as the
    connected-components convergence check) fall back to an unbounded pass,
    so the full-width DP runs on |misses|×|dim| pairs, not |left|×|dim|.

    ``max_pairs`` guards the cartesian tier against accidental use at scale:
    |df| × |dim| is checked up front and a ValueError pointing at
    :func:`fuzzy_top1_join_blocked` is raised past the bound. The check runs
    two ``count()`` jobs AT CONSTRUCTION TIME — an eager action in an
    otherwise lazy API, and the counts materialize whatever upstream plan
    feeds ``df``/``dim`` (cheap only for bare scans). That cost is the
    deliberate price of the guard: the failure it prevents is O(n·m) at
    cluster scale. Hot paths that have already sized their inputs pass
    ``max_pairs=None`` to skip it entirely — zero extra jobs — as the
    bench baseline does. Default 1e8 ≈ the measured local[32] knee
    (~150 M pairs ≈ 3 s).
    """
    from tibame_project_spark.partitioning import ensure_parallelism

    if max_pairs is not None:
        n_left, n_dim = df.count(), dim.count()
        if n_left * n_dim > max_pairs:
            raise ValueError(
                f"fuzzy_top1_join would materialize {n_left} x {n_dim} = "
                f"{n_left * n_dim} candidate pairs (max_pairs={max_pairs}). "
                "This cartesian tier is O(|df|*|dim|) and does not survive "
                "scale-up; use fuzzy_top1_join_blocked (LSH-banded candidates, "
                "equi-join, no broadcast requirement) or pass max_pairs=None "
                "to force the cross product."
            )

    def top1(left: DataFrame, dist: Column) -> DataFrame:
        # Map-side partial MIN over a comparable struct: the pair space is
        # reduced inside each scan partition and never shuffled (unlike a
        # window over the cross product). Ties break on the match string,
        # then the caller's tie_break columns — deterministic.
        order_fields = [dist.alias("__d"), F.col(right_col).alias("__m")] + [
            F.col(c).alias(f"__t{i}") for i, c in enumerate(tie_break or [])
        ]
        payload = F.struct(*[F.col(c) for c in dim.columns]).alias("__p")
        cand = ensure_parallelism(left).crossJoin(F.broadcast(dim))
        if max_distance is not None:
            # Length-band prune BELOW the levenshtein: |len(l)−len(r)| is a
            # lower bound on edit distance, and the And short-circuits
            # left-to-right, so the expensive DP only runs on pairs inside
            # the band. Exactly equivalent (any pair outside the band has
            # dist > max_distance).
            band = (
                F.abs(F.length(left_col) - F.length(right_col))
                <= max_distance
            )
            cand = cand.filter(band & (dist <= max_distance))
        return cand.groupBy(*[F.col(c) for c in df.columns]).agg(
            F.min(F.struct(*order_fields, payload)).alias("__b")
        )

    def unpack(best: DataFrame) -> DataFrame:
        return best.select(
            *df.columns, F.col("__b.__d").alias("distance"), F.col("__b.__p.*")
        )

    full_dist = F.levenshtein(F.col(left_col), F.col(right_col))
    if prune_threshold is None or max_distance is not None:
        return unpack(top1(df, full_dist))

    banded = F.levenshtein(F.col(left_col), F.col(right_col), prune_threshold)
    # Single-eval sentinel mapping: pmod sends the DP's -1 ("> t") to
    # _NO_MATCH-1 and keeps 0..t unchanged, evaluating the levenshtein ONCE
    # per pair. (A `when(banded < 0, …).otherwise(banded)` spells the
    # expression twice and pays the DP twice — expressions get no CSE — and
    # a separate Filter would be pushed below the projection and re-evaluate
    # it there too.)
    capped = F.pmod(banded, F.lit(_NO_MATCH))
    best = top1(df, capped).persist()
    misses = best.filter(F.col("__b.__d") >= _NO_MATCH - 1)
    found = unpack(best.filter(F.col("__b.__d") < _NO_MATCH - 1))
    if misses.limit(1).count() == 0:
        return found
    return found.unionByName(unpack(top1(misses.select(*df.columns), full_dist)))


#: Metadata key under which :func:`fuzzy_band_sketch` records its build
#: parameters on the ``bh`` field; :func:`fuzzy_top1_join_blocked` checks it.
_SKETCH_META = "fuzzy_band_sketch"

#: MinHash permutation seed of the band sketch (``minhash_signature``'s
#: default, which the DuckDB twin of ``fuzzy_blocked`` spells too).
_SKETCH_SEED = 42


def _sketch_params(col: str, n: int, num_perm: int, bands: int, base_hash) -> dict:
    """The build parameters a band sketch records and a probe checks. A
    lambda or local function has no unique name, so its name is pinned to
    the object: a sketch built with it matches only that same object."""
    name = f"{base_hash.__module__}.{base_hash.__qualname__}"
    if "<" in name:
        name = f"{name}@{id(base_hash):x}"
    return {
        "col": col,
        "n": n,
        "num_perm": num_perm,
        "bands": bands,
        "seed": _SKETCH_SEED,
        "base_hash": name,
    }


def fuzzy_band_sketch(
    rel: DataFrame,
    col: str,
    *,
    n: int = 3,
    num_perm: int = 16,
    bands: int = 8,
    base_hash=None,
) -> DataFrame:
    """The LSH band sketch of ``rel`` on string column ``col``: every
    column of ``rel`` plus ``band`` (0..bands-1) and ``bh``, the md5 of
    that band's slice of the character-``n``-gram MinHash signature — one
    row per (input row, band). This is the blocking key of
    :func:`fuzzy_top1_join_blocked`, which builds it for both sides.

    Build it once and pass it as ``dim_sketch=`` when the same dimension is
    probed repeatedly: sketching is the expensive half of the blocked join
    (a MinHash aggregate per row), and a dimension that does not change
    need not be sketched per probe. The ``bh`` field's metadata records
    ``(col, n, num_perm, bands, seed, base_hash)``; it survives
    ``localCheckpoint`` and the probe refuses a sketch whose parameters
    differ from its own.
    """
    from tibame_project_spark.operators.dedup import (
        minhash_signature,
        xxhash_base_hash,
    )

    base_hash = base_hash or xxhash_base_hash
    rows = num_perm // bands
    # Explode the band INDEX first, then slice the signature per output
    # row: building all band hashes inside one explode(array(struct…))
    # re-inlines the signature aggregate into every band expression —
    # measured ~bands× the sketch cost (the generator input is one
    # expression tree, so the multi-use staging that protects projections
    # does not apply). Post-explode, __sig is a carried column computed
    # once per input row; each band row pays only element_at + md5.
    s = F.lower(F.trim(F.col(col)))
    k = F.greatest(F.length(s) - (n - 1), F.lit(1))
    grams = F.array_distinct(
        F.transform(F.sequence(F.lit(1), k), lambda i: F.substring(s, i, n))
    )
    sig = minhash_signature(grams, num_perm, seed=_SKETCH_SEED, base_hash=base_hash)
    bh = F.md5(
        F.concat_ws(
            ",",
            *[
                F.element_at("__sig", (F.col("band") * rows + (j + 1)).cast("int"))
                for j in range(rows)
            ],
        )
    )
    meta = {_SKETCH_META: _sketch_params(col, n, num_perm, bands, base_hash)}
    return (
        rel.withColumn("__sig", sig)
        .withColumn("band", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))))
        .select(*rel.columns, "band", bh.alias("bh", metadata=meta))
    )


def fuzzy_top1_join_blocked(
    df: DataFrame,
    dim: DataFrame,
    left_col: str,
    right_col: str,
    *,
    tie_break: list[str] | None = None,
    n: int = 3,
    num_perm: int = 16,
    bands: int = 8,
    base_hash=None,
    dim_sketch: DataFrame | None = None,
) -> DataFrame:
    """Scale tier of J9 for dims too large to broadcast: LSH blocking via
    character-``n``-gram MinHash, then the same map-side struct-MIN top-1.

    Both relations are sketched (:func:`fuzzy_band_sketch`: char n-grams →
    MinHash signature → ``bands`` band hashes); candidates are generated by
    a plain **equi-join on (band, band_hash)** — a hash-partitioned shuffle
    join, no cross product and no broadcast requirement — then scored with
    Levenshtein.

    Cost: the sketches, not the verification. Banding keeps the candidate
    set small (supplier × customer at sf0.01: 2,393 band-join candidates,
    1,370 distinct pairs, a few ms of Levenshtein), while MinHash-sketching
    the 1,500-row dimension costs most of the pass's executor CPU. So a
    caller that probes one dimension repeatedly passes ``dim_sketch=`` — a
    :func:`fuzzy_band_sketch` of ``dim`` on ``right_col`` built once (and
    ``localCheckpoint``-ed, say) — and each probe sketches only ``df``.
    Without it the dimension is sketched inline, by the same expressions,
    so the rows are identical either way. ``dim`` still names the payload
    columns. A sketch whose recorded parameters (column, ``n``,
    ``num_perm``, ``bands``, seed, base hash) differ from this call's, or
    that records none, raises ``ValueError``: its band hashes would not
    meet the probe's and the join would silently lose matches.

    Jobs per run: ``fuzzy_blocked`` (sf0.01, warm) runs 3 Spark jobs
    with the dimension sketched inline and 3 with it prebuilt — the
    sketch replaces the dimension's scan and sketch inside the plan, not
    a stage or a job.

    Approximate by construction: a left row whose true best match never
    shares a band gets its best *candidate* instead (or drops out if it has
    none); recall follows the (1-(1-s^r)^b) LSH s-curve on n-gram Jaccard
    similarity s. Deterministic for a fixed hash family, so the whole
    pipeline is oracle-checkable when run with ``md5_base_hash``.
    Reference behavior modeled: fuzzywuzzy extractOne
    (``airflow/utils/common.py:22-28``) at data sizes extractOne cannot
    reach.
    """
    params = dict(n=n, num_perm=num_perm, bands=bands, base_hash=base_hash)
    if dim_sketch is None:
        dim_sketch = fuzzy_band_sketch(dim, right_col, **params)
    else:
        from tibame_project_spark.operators.dedup import xxhash_base_hash

        want = _sketch_params(
            right_col, n, num_perm, bands, base_hash or xxhash_base_hash
        )
        got = next(
            (f.metadata.get(_SKETCH_META) for f in dim_sketch.schema.fields
             if f.name == "bh"),
            None,
        )
        if got != want:
            raise ValueError(
                f"dim_sketch was built with {got}, but this join needs {want}; "
                "rebuild it with fuzzy_band_sketch and this join's parameters"
            )

    # A pair may collide in several bands; duplicates are NOT removed here —
    # MIN is duplicate-insensitive, so a distinct() would only re-shuffle
    # the full candidate set to save ≤ bands× map-side levenshteins. Leaving
    # them in keeps the pair stream map-side: the partial MIN collapses each
    # scan partition to one row per left key before the only extra shuffle.
    cand = (
        fuzzy_band_sketch(df, left_col, **params)
        .join(dim_sketch, ["band", "bh"])
        .drop("band", "bh")
    )
    dist = F.levenshtein(F.col(left_col), F.col(right_col))
    order_fields = [dist.alias("__d"), F.col(right_col).alias("__m")] + [
        F.col(c).alias(f"__t{i}") for i, c in enumerate(tie_break or [])
    ]
    payload = F.struct(*[F.col(c) for c in dim.columns]).alias("__p")
    best = cand.groupBy(*[F.col(c) for c in df.columns]).agg(
        F.min(F.struct(*order_fields, payload)).alias("__b")
    )
    return best.select(
        *df.columns, F.col("__b.__d").alias("distance"), F.col("__b.__p.*")
    )


def radius_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str,
    right_id: str,
    lat_col: str = "lat",
    lon_col: str = "lon",
    radius_km: float,
) -> DataFrame:
    """Spatial radius join: all (left, right) pairs within ``radius_km``
    great-circle distance — the "attractions near this hotel" lookup, as a
    blocked equi-join instead of an O(n·m) cross product.

    Blocking: the plane is cut into a lat/lon grid whose cell edge is at
    least the radius (lon edge sized at the worst-case — highest usable —
    latitude so east-west cell width never falls under the radius; the
    method degrades near the poles, cap |lat| ≤ 85°). A match within r of
    a point can then only lie in the point's own cell or one of its 8
    neighbors, so the LEFT side replicates 9× onto the neighbor cells
    (narrow explode of 9 literal offsets) and joins the RIGHT side's
    single cell id — candidates are cell-local, shuffled on the cell key,
    and the exact haversine predicate verifies each candidate. Same
    bucket-join-then-verify shape as the MinHash/LSH tier; at 100 TB the
    pair space is bounded by cell co-location, never |L|×|R|.

    Returns (left_id, right_id, distance_km) with distance rounded to 6
    decimals. Haversine is transcendental (sin/cos/atan2), so this
    operator is pytest-tier: distances are deterministic within Spark but
    not bit-promised against a foreign engine's libm.
    """
    import math

    # grid sized so one cell always covers the radius: 1° lat ≈ 111.32 km;
    # 1° lon ≈ 111.32·cos(lat) km — use the 85° worst case
    lat_step = radius_km / 111.32
    lon_step = radius_km / (111.32 * math.cos(math.radians(85.0)))

    def cell(lat, lon):
        return F.struct(
            F.floor(lat / F.lit(lat_step)).cast("long").alias("cy"),
            F.floor(lon / F.lit(lon_step)).cast("long").alias("cx"),
        )

    l = left.select(
        F.col(left_id).alias("__lid"),
        F.col(lat_col).alias("__llat"),
        F.col(lon_col).alias("__llon"),
    ).withColumn("__c", cell(F.col("__llat"), F.col("__llon")))
    offsets = F.array(
        *[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    l9 = l.withColumn("__o", F.explode(offsets)).select(
        "__lid",
        "__llat",
        "__llon",
        F.struct(
            (F.col("__c.cy") + F.col("__o.dy")).alias("cy"),
            (F.col("__c.cx") + F.col("__o.dx")).alias("cx"),
        ).alias("__cell"),
    )
    r = right.select(
        F.col(right_id).alias("__rid"),
        F.col(lat_col).alias("__rlat"),
        F.col(lon_col).alias("__rlon"),
    ).withColumn("__cell", cell(F.col("__rlat"), F.col("__rlon")))

    rad = F.lit(math.pi / 180.0)
    dlat = (F.col("__rlat") - F.col("__llat")) * rad / 2
    dlon = (F.col("__rlon") - F.col("__llon")) * rad / 2
    a = F.sin(dlat) * F.sin(dlat) + F.cos(F.col("__llat") * rad) * F.cos(
        F.col("__rlat") * rad
    ) * F.sin(dlon) * F.sin(dlon)
    dist = F.lit(2 * 6371.0088) * F.atan2(F.sqrt(a), F.sqrt(1 - a))
    return (
        l9.join(r, "__cell")
        .withColumn("distance_km", dist)
        .filter(F.col("distance_km") <= radius_km)
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            # no distinct needed: the right side carries ONE cell id and
            # the left replica set contains that cell exactly once, so a
            # pair can only be produced by a single join row
            F.round("distance_km", 6).alias("distance_km"),
        )
    )


def radius_join_grid(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str,
    right_id: str,
    x_col: str = "x",
    y_col: str = "y",
    radius: int,
) -> DataFrame:
    """Integer-exact planar radius join: all (left, right) pairs with
    squared Euclidean distance ≤ ``radius``² on integer coordinates — the
    bit-exact, oracle-checkable twin of :func:`radius_join` (whose haversine
    is transcendental and therefore pytest-tier only).

    Same bucket-join-then-verify shape: the plane is cut into cells of edge
    ``radius`` (so any match lies in the point's own cell or one of its 8
    neighbors), the LEFT side replicates onto the 9 neighbor cells via a
    narrow literal explode, the join key is the cell id, and the exact
    integer predicate ``dx² + dy² ≤ r²`` verifies each candidate. All
    arithmetic is 64-bit integer, so results are identical on any engine
    and any partitioning — at 100 TB the pair space is bounded by cell
    co-location, never |L|×|R|.

    Returns (left_id, right_id, dist2) with dist2 the exact squared
    distance as BIGINT.
    """
    try:
        ok = radius == int(radius) and int(radius) > 0
    except (OverflowError, ValueError):  # inf / nan
        ok = False
    if not ok:
        # a truncated float radius would silently return a SMALLER match
        # set than asked for — reject instead of guessing
        raise ValueError(f"radius must be a positive integer, got {radius!r}")
    r2 = int(radius) * int(radius)
    cell = int(radius)
    # same loud-rejection contract as the radius guard: .cast('long') on a
    # float/decimal coordinate column would TRUNCATE and silently shrink
    # the match set, so only integral column types are accepted
    integral = ("byte", "short", "int", "integer", "long", "bigint", "smallint", "tinyint")
    for df, col in ((left, x_col), (left, y_col), (right, x_col), (right, y_col)):
        typ = dict(df.dtypes).get(col)
        if typ is None or typ not in integral:
            raise ValueError(
                f"radius_join_grid needs integral coordinate columns; "
                f"{col!r} is {typ!r} — cast explicitly (and deliberately) "
                "upstream if truncation is really intended"
            )

    def _floor_div(col: str) -> Column:
        # pure long arithmetic: (x - pmod(x, c)) is exactly divisible by c,
        # so `div` equals floor for any sign — no double division, which
        # would misassign cells for coordinates beyond 2^53
        return F.expr(
            f"(CAST({col} AS BIGINT) - pmod(CAST({col} AS BIGINT), {cell})) div {cell}"
        )

    def cell_of(x, y):
        return F.struct(
            _floor_div(x).alias("cx"),
            _floor_div(y).alias("cy"),
        )

    l = left.select(
        F.col(left_id).alias("__lid"),
        F.col(x_col).cast("long").alias("__lx"),
        F.col(y_col).cast("long").alias("__ly"),
    ).withColumn("__c", cell_of("__lx", "__ly"))
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    l9 = l.withColumn("__o", F.explode(offsets)).select(
        "__lid",
        "__lx",
        "__ly",
        F.struct(
            (F.col("__c.cx") + F.col("__o.dx")).alias("cx"),
            (F.col("__c.cy") + F.col("__o.dy")).alias("cy"),
        ).alias("__cell"),
    )
    r = right.select(
        F.col(right_id).alias("__rid"),
        F.col(x_col).cast("long").alias("__rx"),
        F.col(y_col).cast("long").alias("__ry"),
    ).withColumn("__cell", cell_of("__rx", "__ry"))
    dx = F.col("__lx") - F.col("__rx")
    dy = F.col("__ly") - F.col("__ry")
    dist2 = dx * dx + dy * dy
    return (
        l9.join(r, "__cell")
        .withColumn("dist2", dist2)
        .filter(F.col("dist2") <= F.lit(r2))
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            # one cell id per right row + distinct left replica cells ⇒
            # each qualifying pair is produced exactly once, no DISTINCT
            F.col("dist2").cast("long").alias("dist2"),
        )
    )


def bloom_filter_table(
    df: DataFrame,
    key_col: str,
    *,
    num_bits: int = 1 << 16,
    num_hashes: int = 5,
) -> DataFrame:
    """Build a Bloom filter over ``df[key_col]`` as a **bitmap relation**
    ``(word_idx: long, bits: long)`` — one row per 64-bit word that has at
    least one bit set.

    This is the build side of runtime row-level filtering (what Spark's
    ``spark.sql.optimizer.runtime.bloomFilter`` injects for shuffle joins),
    hand-expressed so it composes with any probe and stays inspectable.
    Each key sets ``num_hashes`` bits at ``pmod(xxhash64(key, seed), m)``;
    the build is one narrow explode (k rows per key) plus one tiny
    aggregation whose output is bounded by ``m/64`` rows regardless of
    build cardinality — the shuffle carries (word, partial-bits) pairs,
    never keys.

    Sizing: for ``n`` distinct keys, false-positive rate
    ≈ ``(1 - e^(-k·n/m))^k`` — 10 bits/key with k=5 gives ~1%. The bitmap
    is at most ``m/8`` bytes (m=2^30 → 128 MB), so it stays broadcastable
    long after the key set itself (100 M strings) has stopped being so —
    that regime, "dim too big to broadcast, its bloom is not", is exactly
    where :func:`bloom_semi_join` pays.
    """
    if num_bits % 64 != 0:
        raise ValueError(f"num_bits must be a multiple of 64, got {num_bits}")
    positions = F.array(
        *[
            F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits))
            for i in range(num_hashes)
        ]
    )
    # F.shiftleft takes a Python-int shift amount; a column-valued shift
    # needs the SQL form (still whole-stage-codegen, not a UDF)
    return (
        df.select(F.explode(positions).alias("__pos"))
        .groupBy(F.expr("shiftright(__pos, 6)").alias("word_idx"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))")
            )
            # stamp the build parameters into the column metadata so a
            # probe built with DIFFERENT parameters can be rejected
            # driver-side (schema-only — no job) instead of silently
            # returning wrong membership (see _check_bloom_params)
            .alias("bits", metadata={"num_bits": num_bits, "num_hashes": num_hashes})
        )
    )


def _check_bloom_params(bloom: DataFrame, num_bits: int, num_hashes: int) -> None:
    """Reject a caller-supplied bitmap whose build parameters disagree with
    the probe's — hashing mod a different m (or a different seed count)
    produces false NEGATIVES, which no downstream join can repair."""
    meta = {}
    for f in bloom.schema.fields:
        if f.name == "bits":
            meta = dict(f.metadata or {})
    if not meta:
        return  # hand-built relation without the stamp: caller's contract
    if meta.get("num_bits") != num_bits or meta.get("num_hashes") != num_hashes:
        raise ValueError(
            "bloom bitmap was built with num_bits="
            f"{meta.get('num_bits')}, num_hashes={meta.get('num_hashes')} "
            f"but the probe was asked for num_bits={num_bits}, "
            f"num_hashes={num_hashes} — a mismatched probe silently drops "
            "true matches; rebuild or pass matching parameters"
        )


def bloom_prune(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    *,
    num_bits: int,
    num_hashes: int,
) -> DataFrame:
    """Drop rows of ``df`` whose ``key_col`` is definitely absent from the
    Bloom filter built by :func:`bloom_filter_table` (same ``num_bits`` /
    ``num_hashes`` — the seeds are positional, so the parameters must
    match the build).

    Probe shape: ``num_hashes`` broadcast-hash left joins against the
    bitmap relation on the word index, each followed by a map-side
    bit-test filter — the probed side never shuffles, and a missing word
    row (NULL after the left join) reads as an all-zero word. No false
    negatives ever; false positives survive and must be removed by a
    real join downstream (:func:`bloom_semi_join` does).

    Caching expectation: each of the ``num_hashes`` probe joins references
    ``bloom`` independently, so hand this function a ``persist()``-ed
    bitmap (as the in-module callers do) — an unpersisted bitmap re-runs
    the build aggregation once per seed. Not persisted defensively here
    because the caller owns the unpersist point (see
    :func:`bloom_semi_join`'s two lifecycles).
    """
    _check_bloom_params(bloom, num_bits, num_hashes)
    out = df
    for i in range(num_hashes):
        out, test, scratch = _bloom_probe_step(out, key_col, bloom, i, num_bits)
        # filtering after EACH probe (not one flag at the end) lets the
        # typical definitely-absent row drop out at its first failed bit
        # test instead of riding all k joins
        out = out.filter(test).drop(*scratch)
    return out


def _bloom_probe_step(
    df: DataFrame, key_col: str, bloom: DataFrame, i: int, num_bits: int
) -> tuple[DataFrame, Column, list[str]]:
    """One positional-seed probe: join the bitmap word for hash ``i`` and
    return (joined df, bit-test Column, scratch column names). ONE
    definition shared by prune and anti flag so build/probe hashing can
    never desynchronize (seeds are positional — must match
    :func:`bloom_filter_table`)."""
    p, w, b, m = (f"__bloom_{x}{i}" for x in "pwbm")
    side = F.broadcast(
        bloom.select(F.col("word_idx").alias(w), F.col("bits").alias(b))
    )
    joined = (
        df.withColumn(
            p, F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits))
        )
        .withColumn(w, F.expr(f"shiftright({p}, 6)"))
        .withColumn(
            m,
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({p}, 64) AS INT))"),
        )
        .join(side, w, "left")
    )
    test = F.coalesce(F.col(b), F.lit(0)).bitwiseAND(F.col(m)) != 0
    return joined, test, [p, w, b, m]


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    key_col: str,
    *,
    num_bits: int = 1 << 16,
    num_hashes: int = 5,
    bloom: DataFrame | None = None,
) -> DataFrame:
    """Exact ``LEFT SEMI`` join of ``big`` against ``small``'s keys, with a
    Bloom pre-filter so the join's shuffle only ever sees rows that can
    match.

    At 100 TB this is the shape that saves the day when the key side is
    too large to broadcast (so the semi-join must shuffle BOTH sides):
    the bitmap costs one tiny aggregation, broadcasts at m/8 bytes, and
    the map-side probe removes the (typically vast) non-matching majority
    of ``big`` BEFORE the exchange — the shuffle then carries only
    candidates. False positives from the filter are eliminated by the
    real semi-join, so the result is bit-identical to ``big.join(small,
    key, "left_semi")``.

    Caching contract: the probe references the bitmap ``num_hashes``
    times, so it must be cached (it is MEMORY_AND_DISK and at most
    ``num_bits/8`` bytes per executor). Two lifecycles:

    * ``bloom=None`` (default): the bitmap is built and ``persist()``-ed
      here; a long-lived session releases it by materializing the result
      and calling ``spark.catalog.clearCache()``.
    * ``bloom=`` a :func:`bloom_filter_table` result built with the SAME
      ``num_bits``/``num_hashes`` and persisted by the caller: this
      function takes no ownership, so the caller can ``unpersist()`` just
      that bitmap once the result has materialized — no global
      ``clearCache`` needed, and one bitmap can serve several joins.
    """
    if bloom is None:
        bitmap = bloom_filter_table(
            small, key_col, num_bits=num_bits, num_hashes=num_hashes
        ).persist()
    else:
        bitmap = bloom  # bloom_prune below validates the stamped params
    pruned = bloom_prune(
        big, key_col, bitmap, num_bits=num_bits, num_hashes=num_hashes
    )
    return pruned.join(small.select(key_col).distinct(), key_col, "left_semi")
