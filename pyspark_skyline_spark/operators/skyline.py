"""Distributed skyline (Pareto frontier) over arbitrary Spark DataFrames.

Capability parity with the reference's three MapReduce partitioning
schemes — MR_DIM, MR_GRID (with dominated-cell pruning), MR_ANGLE
(reference: src/utils/functions.py:57-300, src/jobs/batch_job.py:99-122)
— but architected Spark-first instead of translated:

* partition keys are native Column expressions (``floor``/``least``/
  ``atan``/``sqrt``), never Python UDFs (reference uses row-wise UDFs,
  src/jobs/batch_job.py:37-76);
* per-dimension bounds are data-driven (one ``agg(min,max)`` pass)
  instead of the reference's constant global domain
  (src/config/configurations.py:17-18), so skewed data still partitions
  evenly;
* MAX dimensions are reflected into min-space before the angular
  transform, lifting the reference's MIN-only MR_ANGLE restriction
  (src/utils/functions.py:327-329);
* MR_GRID's dominated-cell prune is a driver-precomputed surviving-cell
  ``isin`` filter (pure Catalyst, no UDF) — and unlike the reference's
  best-corner rule (README.md:54-57), it only prunes cells strictly
  dominated by a NONEMPTY cell, which is the sound generalization once
  bounds are data-driven (see ``_grid_surviving_cells``);
* local skylines run as a NumPy kernel in ``applyInPandas`` (Arrow
  batches, spillable groups) instead of ``collect_list`` + row UDF
  (src/jobs/batch_job.py:128-134);
* the final merge is a fan-in tree of ``applyInPandas`` passes instead
  of the reference's single global reduce task — its documented
  scalability wall (report p.3; SURVEY.md §4.3).

Results are plain DataFrames preserving the full input row (the
reference only returns the coordinate struct).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from pyspark_skyline_spark.kernel import _dominated_by, find_skyline_mask, order_key, to_min_space
from pyspark_skyline_spark.parser import parse_skyline_query

__all__ = ["skyline", "skyline_sql", "skyline_antijoin", "skyline_layers", "skyline_witness", "representative_skyline", "windowed_skyline", "warm_up", "ALGORITHMS"]

ALGORITHMS = ("MR_DIM", "MR_GRID", "MR_ANGLE", "auto")

# Merge and combiner settings, read at call time by skyline()'s auto
# selection (module constants, not per-call options).
#: fan-in of the tree merge: one pass up to 256 cells, two up to 65536
MERGE_FANOUT = 256
#: "auto" | "tree" | "broadcast" (see ``_global_merge``)
MERGE_STRATEGY = "auto"
#: auto merge broadcast-filters a local-frontier count in (threshold, cap]
BROADCAST_THRESHOLD = 8192
BROADCAST_CAP = 2_000_000
#: pre-shuffle combiner: None = on above ``SMALL_INPUT_BYTES``, else forced
MAP_SIDE_COMBINE: bool | None = None
#: estimated input size up to which the combiner stays off and a low-d
#: input skips the merge probe
SMALL_INPUT_BYTES = 4 * 1024**3

_CELL = "__sky_cell"
_OK = "__sky_ok"

# Make our kernel module picklable by value so applyInPandas closures run
# on executors that don't have the package on their PYTHONPATH.
try:  # pragma: no cover - defensive
    from pyspark import cloudpickle as _cp  # type: ignore[attr-defined]
except ImportError:  # pragma: no cover
    try:
        from pyspark.serializers import cloudpickle as _cp  # type: ignore
    except ImportError:
        import cloudpickle as _cp  # type: ignore
try:  # pragma: no cover
    import pyspark_skyline_spark.kernel as _kernel_mod

    _cp.register_pickle_by_value(_kernel_mod)
except Exception:  # pragma: no cover - older cloudpickle: rely on PYTHONPATH
    pass


def _normalize_dims(dims) -> list[tuple[str, str]]:
    if isinstance(dims, str):
        return parse_skyline_query(dims)
    out = []
    for item in dims:
        col, sense = item
        sense = sense.lower()
        if sense not in ("min", "max"):
            raise ValueError(f"sense must be min/max, got {sense!r}")
        out.append((col, sense))
    if not out:
        raise ValueError("need at least one skyline dimension")
    return out


def _prepare(df: DataFrame, dims, flag: bool = False):
    """The skyline family's entry contract: normalize ``dims``, check
    the columns exist, and apply the comparable-row guard.

    A row is comparable iff none of its skyline dimensions is NULL or
    NaN: NULL has no value, IEEE comparisons make NaN incomparable (a
    kernel would keep every NaN row), and engines disagree on NaN
    ordering. ±inf and -0.0 are ordinary values. Returns ``(df, dims)``
    with the other rows filtered out or, with ``flag``, kept and marked
    by a boolean ``__sky_ok`` column.
    """
    dims = _normalize_dims(dims)
    for c, _ in dims:
        if c not in df.columns:
            raise ValueError(f"skyline dimension {c!r} not in DataFrame columns {df.columns}")
    guards = []
    for c, _ in dims:
        guards.append(f"`{c}` IS NOT NULL")
        if df.schema[c].dataType.typeName() in ("double", "float"):
            guards.append(f"NOT isnan(`{c}`)")
    ok = F.expr(" AND ".join(guards))
    return (df.withColumn(_OK, ok) if flag else df.filter(ok)), dims


def _dominates(q: str, p: str, dims) -> Column:
    """Row alias ``q`` dominates row alias ``p``: no worse in every
    dimension and strictly better in at least one. Coordinate-tied rows
    never dominate each other, so exact duplicates are all kept."""
    no_worse = strictly_better = None
    for c, sense in dims:
        qc, pc = F.col(f"{q}.`{c}`"), F.col(f"{p}.`{c}`")
        nw, sb = (qc <= pc, qc < pc) if sense == "min" else (qc >= pc, qc > pc)
        no_worse = nw if no_worse is None else no_worse & nw
        strictly_better = sb if strictly_better is None else strictly_better | sb
    return no_worse & strictly_better


def _numeric_expr(df: DataFrame, col: str):
    """Dimension as a double Column. Timestamps become microseconds since
    epoch, dates become day numbers; everything else casts directly."""
    dtype = df.schema[col].dataType.typeName()
    c = F.col(col)
    if dtype in ("timestamp", "timestamp_ntz"):
        return F.unix_micros(c.cast("timestamp")).cast("double")
    if dtype == "date":
        return F.datediff(c, F.to_date(F.lit("1970-01-01"))).cast("double")
    return c.cast("double")


def _compute_bounds(df: DataFrame, dims) -> dict[str, tuple[float, float]]:
    """One aggregate pass for per-dimension (lo, hi) as doubles.

    Data-driven replacement for the reference's fixed [0, 1e9] domain
    (src/config/configurations.py:17-18).
    """
    aggs = []
    for c, _ in dims:
        x = _numeric_expr(df, c)
        aggs.append(F.min(x).alias(f"__lo_{c}"))
        aggs.append(F.max(x).alias(f"__hi_{c}"))
    row = df.agg(*aggs).collect()[0]
    return {c: (row[f"__lo_{c}"], row[f"__hi_{c}"]) for c, _ in dims}


def _minspace_exprs(df, dims, bounds):
    """Normalized [0,1] min-space value per dimension (native exprs).

    MIN dim -> (x-lo)/(hi-lo); MAX dim -> (hi-x)/(hi-lo). Degenerate
    (lo==hi or unknown) dims collapse to 0.0.
    """
    exprs = []
    for c, sense in dims:
        lo, hi = bounds[c]
        if lo is None or hi is None or not (hi > lo):
            exprs.append(F.lit(0.0))
            continue
        x = _numeric_expr(df, c)
        num = (x - F.lit(float(lo))) if sense == "min" else (F.lit(float(hi)) - x)
        exprs.append(num / F.lit(float(hi - lo)))
    return exprs


def _bucket(v, p: int):
    """Equi-width bucket of a [0,1] value into [0, p)."""
    return F.least(F.floor(v * F.lit(float(p))), F.lit(p - 1)).cast("long")


def _mr_dim_key(vs, p: int):
    """MR-DIM: bucket the first dimension (reference functions.py:57-73,
    including the clamp of the domain max into the last bucket —
    ``least`` handles that here)."""
    return _bucket(vs[0], p), p


def _mr_grid_key(vs, b: int):
    """MR-GRID packed cell id: per-dim min-space buckets, base-b packed
    (reference functions.py:76-135) as a native expression."""
    digits = [_bucket(v, b) for v in vs]
    key = digits[0]
    for i, dig in enumerate(digits[1:], start=1):
        key = key + dig * F.lit(b**i)
    return key, b ** len(vs)


def _grid_surviving_cells(keyed: DataFrame, b: int, d: int) -> list[int]:
    """Sound dominated-cell prune: a cell is eliminated only if some
    NONEMPTY cell strictly cell-dominates it (every digit strictly
    smaller in min-space — bucket ranges are disjoint half-open
    intervals, so cell-level strict dominance implies point-level
    dominance by an existing point).

    The reference prunes against the best CORNER cell unconditionally
    (functions.py:138-192, README.md:54-57) — unsound when that corner
    holds no data, which its fixed uniform [0,1e9] domain hid and our
    data-driven bounds expose. One cheap count-by-cell pass (map-side
    combined) + an O(ncells^2) driver check replaces it; the filter
    stays a pure Catalyst ``isin``.
    """
    cells = [r[0] for r in keyed.select(_CELL).distinct().collect()]
    return _surviving_cell_ids(cells, b, d)


def _surviving_cell_ids(cells: list[int], b: int, d: int) -> list[int]:
    """Cell ids NOT strictly dominated by any other id in ``cells``
    (digit-wise strict domination in min-space; see
    ``_grid_surviving_cells``)."""
    import numpy as np

    if not cells:
        return []
    ids = np.asarray(cells, dtype=np.int64)
    digits = np.empty((len(ids), d), dtype=np.int64)
    rem = ids.copy()
    for i in range(d):
        digits[:, i] = rem % b
        rem //= b
    survivors = []
    for idx, cid in enumerate(ids):
        dominated = ((digits < digits[idx]).all(axis=1)).any()
        if not dominated:
            survivors.append(int(cid))
    return survivors


def _grid_prune_grouped(
    keyed: DataFrame, b: int, d: int, by: list[str], max_census: int = 65536
) -> DataFrame:
    """Per-group dominated-cell prune for grouped skylines: the census
    is the distinct (by..., cell) set, survivors are computed per group
    on the driver, and the filter is a broadcast LEFT SEMI join on
    (by..., cell) — the grouped analogue of the ungrouped ``isin``.

    The ungrouped census is bounded by ``b**d`` by construction, but the
    grouped census grows with the number of groups, so it is only
    collected when it fits under ``max_census`` rows (checked with a
    ``limit(n+1)`` probe, never an unbounded collect); past the cap the
    prune is skipped — correct either way, pruning is an optimization.
    """
    from collections import defaultdict

    census = keyed.select(*by, _CELL).distinct()
    rows = census.limit(max_census + 1).collect()
    if len(rows) > max_census:
        return keyed
    groups: dict[tuple, list[int]] = defaultdict(list)
    for r in rows:
        groups[tuple(r[c] for c in by)].append(r[_CELL])
    surviving = [
        (*g, cid)
        for g, cells in groups.items()
        for cid in _surviving_cell_ids(cells, b, d)
    ]
    if len(surviving) == len(rows):
        return keyed  # nothing pruned; skip the join
    surv_df = keyed.sparkSession.createDataFrame(surviving, schema=census.schema)
    # null-safe equality: groupBy keeps a NULL group, and a plain equi
    # semi-join would silently drop every row of a NULL-keyed group
    # (NULL = NULL is never true)
    cond = None
    for c in [*by, _CELL]:
        piece = keyed[c].eqNullSafe(surv_df[c])
        cond = piece if cond is None else cond & piece
    return keyed.join(F.broadcast(surv_df), on=cond, how="left_semi")


def _mr_angle_key(vs, p: int):
    """MR-ANGLE: bucket d-1 hyperspherical angles of the min-space
    vector (reference functions.py:223-300). phi_i = atan(||tail|| / v_i)
    over [0, pi/2], v_i == 0 -> last bucket (reference's 90-degree clamp,
    functions.py:289-291). Works for MAX dims too because reflection
    already mapped them to min-space."""
    d = len(vs)
    half_pi = math.pi / 2.0
    key = F.lit(0).cast("long")
    for i in range(d - 1):
        tail = None
        for v in vs[i + 1 :]:
            sq = v * v
            tail = sq if tail is None else tail + sq
        phi = F.atan(F.sqrt(tail) / vs[i])
        bucket = F.when(vs[i] == 0.0, F.lit(p - 1)).otherwise(
            F.least(F.floor(phi / F.lit(half_pi) * F.lit(float(p))), F.lit(p - 1))
        ).cast("long")
        key = key + bucket * F.lit(p**i)
    return key, p ** (d - 1)


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the plan (parquet footer stats when
    available); gates the map-side combiner and the merge probe."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - estimation is best-effort
        return 0


def _pick_algo(algo: str, d: int) -> str:
    if algo not in ALGORITHMS:
        raise ValueError(f"algo must be one of {ALGORITHMS}, got {algo!r}")
    if algo != "auto":
        return algo
    # Report p.3: angular partitioning is the only scheme whose local
    # skylines stay small as d grows; low d is cheap either way.
    return "MR_ANGLE" if d >= 3 else "MR_DIM"


def _default_param(algo: str, d: int, parallelism: int) -> int:
    target = max(2, parallelism) * 4  # a few cells per core for balance
    if algo == "MR_DIM":
        return min(target, 4096)
    if algo == "MR_GRID":
        b = 2
        while b**d - (b - 1) ** d < target and b**d < 2**31 and b < 64:
            b += 1
        return b
    if algo == "MR_ANGLE":
        if d == 1:
            return 1
        return max(2, math.ceil(target ** (1.0 / (d - 1))))
    raise ValueError(f"unknown algorithm {algo!r}")


def _local_skyline_pass(df_keyed: DataFrame, dim_cols, senses, by=()):
    """One per-(by + cell) skyline pass; keeps the cell col.

    The grouped kernel is Python/Arrow LATENCY-bound (per-group IPC
    round-trips), not byte-bound — but AQE coalesces the groupBy
    exchange by byte size, which can funnel hundreds of groups into a
    handful of tasks. An explicit ``repartition(n, keys)`` pins the
    exchange at the session's shuffle parallelism (AQE leaves
    explicit-numPartitions shuffles alone) — same shuffle count, full-
    width Python stage.

    A ``mapInPandas`` incremental-fold variant (local pandas groupby,
    ``frontier(g) = kernel(frontier(g) ∪ batch-rows(g))`` per Arrow
    batch) was TRIED and MEASURED OFF in round 14: interleaved A/B at
    sf0.1 showed it a wash-to-loss on the gate shapes (skyline_layers
    consistently +0.3 s, two_stage +0.2 s, bare 2-d skyline +0.06 s;
    only the MR_ANGLE 3-d row improved, within host noise) — at a few
    thousand rows per group the per-group Arrow framing this removes
    is already amortized, and the pandas groupby/iloc/concat bookkeeping
    costs more than it saves. The fold-vs-antijoin differential test
    (tiny Arrow batches, groups spanning batches) stays as a semantics
    pin for any future retry."""
    schema = df_keyed.schema
    keys = [*by, _CELL]
    try:
        n = int(df_keyed.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # pragma: no cover - e.g. "auto"
        n = df_keyed.sparkSession.sparkContext.defaultParallelism

    def fn(pdf):
        return pdf[find_skyline_mask([pdf[c] for c in dim_cols], senses)]

    return (
        df_keyed.repartition(n, *keys).groupBy(*keys).applyInPandas(fn, schema=schema)
    )


def _map_side_prereduce(df_keyed: DataFrame, dim_cols, senses, by=()):
    """Combiner: reduce each Arrow batch with ONE batch-global kernel
    call BEFORE the shuffle, so the groupBy exchange only carries
    frontier candidates — the skyline analogue of map-side partial
    aggregation. Removing a row dominated by ANY batch row (even from
    another cell / ``by`` group boundary aside) is safe for the global
    result by transitivity; with ``by`` groups dominance must stay
    within-group, so there we reduce per group.
    """
    schema = df_keyed.schema

    def fn(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if not by:
                yield pdf[find_skyline_mask([pdf[c] for c in dim_cols], senses)]
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            for gidx in pdf.groupby(list(by), dropna=False, sort=False).indices.values():
                sub = pdf.iloc[gidx]
                keep[gidx[find_skyline_mask([sub[c] for c in dim_cols], senses)]] = True
            yield pdf[keep]

    return df_keyed.mapInPandas(fn, schema=schema)


def _collect_minspace(cand: DataFrame, dim_cols, senses):
    """(K, sK) of the candidates' min-space dims, sorted by ascending
    ``order_key`` (dims only are collected, never full rows)."""
    import numpy as np

    pdf = cand.select(*dim_cols).toPandas()
    K = np.column_stack(
        [to_min_space(pdf[c], s) for c, s in zip(dim_cols, senses)]
    )
    sK = order_key(K)
    order = np.argsort(sK, kind="stable")
    return np.ascontiguousarray(K[order]), sK[order]


def _filter_against(cand: DataFrame, K, sK, dim_cols, senses) -> DataFrame:
    """Drop every ``cand`` row dominated by any row of the broadcast
    min-space matrix ``K`` (sorted by ascending key) via mapInPandas."""
    import numpy as np

    bc = cand.sparkSession.sparkContext.broadcast((K, sK))
    schema = cand.schema

    def fn(batches):
        Kb, sKb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C_all = np.column_stack(
                [to_min_space(pdf[c], s) for c, s in zip(dim_cols, senses)]
            )
            sC_all = order_key(C_all)
            # ascending-key chunk order: a chunk only needs the K prefix
            # with sums <= its max, so sorted chunks compare against
            # ~half of K on average instead of nearly all of it
            corder = np.argsort(sC_all, kind="stable")
            keep = np.ones(len(pdf), dtype=bool)
            # chunk rows so the (m, k) boolean temporaries stay bounded
            # (same memory budget as the kernel's BNL)
            m_cap = max(32, 128_000_000 // max(len(Kb), 1))
            for st in range(0, len(corder), m_cap):
                idx = corder[st : st + m_cap]
                C = np.ascontiguousarray(C_all[idx])
                sC = sC_all[idx]
                # dominators need key <= max(sC): slice the sorted K
                hi = int(np.searchsorted(sKb, sC[-1], side="right"))
                if hi == 0:
                    continue
                keep[idx] = ~_dominated_by(C, Kb[:hi], sC, sKb[:hi])
            yield pdf[keep]

    return cand.mapInPandas(fn, schema=schema)


def _broadcast_final_filter(
    cand: DataFrame, dim_cols, senses, prune_k: int = 8192
) -> DataFrame:
    """Parallel global merge for LARGE candidate frontiers, two phases:

    1. **Prune**: broadcast only the ``prune_k`` smallest-sum candidates
       (the strongest dominators — the global minimum-sum point is
       always among them) and drop every candidate they dominate. For
       benign data this kills almost all non-frontier candidates at
       O(n · prune_k · d) cost, avoiding the all-vs-all trap where the
       candidate set is much larger than the frontier.
    2. **Verify**: re-collect the survivors and filter them against the
       full survivor matrix — exact, and now sized by the (near-)
       frontier rather than the raw candidate count.

    Sound because killing a candidate dominated by ANY candidate row is
    transitively safe, and true skyline points have no dominator
    anywhere; exact duplicates never dominate each other (kernel
    semantics), so they all survive — same as the tree merge. The
    intrinsic O(F² · d) verification of a genuinely huge frontier still
    runs — but across every core/executor instead of inside the tree
    merge's final single ``applyInPandas`` group (68k-point frontiers:
    minutes single-threaded, seconds parallel)."""
    import numpy as np

    K, sK = _collect_minspace(cand, dim_cols, senses)
    if len(K) > 2 * prune_k:
        # The prune pass costs ~prune_k/n of the full filter and shrinks
        # the quadratic verify by (1-kill)^2, so it pays whenever
        # kill*(2-kill) clears that ratio (with margin for the re-collect
        # and checkpoint). The driver already holds every candidate's
        # dims, so the kill-rate is estimated on a strided sample across
        # the sum range — O(sample * prune_k * d), deterministic,
        # milliseconds.
        tail = np.arange(prune_k, len(K), max(1, (len(K) - prune_k) // 2048))
        S = np.ascontiguousarray(K[tail])
        kill = _dominated_by(S, K[:prune_k], sK[tail], sK[:prune_k]).mean()
        if kill * (2.0 - kill) > 3.0 * prune_k / len(K):
            cand = _filter_against(
                cand, K[:prune_k], sK[:prune_k], dim_cols, senses
            ).localCheckpoint(eager=False)
            K, sK = _collect_minspace(cand, dim_cols, senses)
    return _filter_against(cand, K, sK, dim_cols, senses)


def skyline(
    df: DataFrame,
    dims,
    algo: str = "auto",
    partitions: int | None = None,
    bounds: dict[str, tuple[float, float]] | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Skyline of ``df`` under per-dimension MIN/MAX senses.

    Parameters
    ----------
    df : input DataFrame (any schema; full rows are preserved in the
        output, unlike the reference's coordinate-only structs)
    dims : list of ``(column, "min"|"max")`` or a query string
        ``"SKYLINE OF c1 MIN, c2 MAX"``
    algo : MR_DIM | MR_GRID | MR_ANGLE | auto
    partitions : fan-out parameter ``p`` (algorithm-specific, see
        reference README.md:47-60); derived from cluster parallelism
        when None
    bounds : optional precomputed per-column (lo, hi) to skip the
        bounds pass
    by : optional group columns: one independent skyline per group
        (dominance is never compared across groups)

    Rows failing the comparable-row guard (NULL or NaN in a skyline
    dimension, see ``_prepare``) are excluded.
    """
    df, dims = _prepare(df, dims)
    algo = _pick_algo(algo, len(dims))
    return _skyline(df, dims, algo, partitions, bounds, by, _estimated_bytes(df))


def _skyline(df: DataFrame, dims, algo: str, partitions, bounds, by, est: int) -> DataFrame:
    """``skyline`` of an input ``_prepare`` already guarded, with a
    resolved ``algo`` and the input's size estimate ``est`` (taken once
    by the caller)."""
    d = len(dims)
    if bounds is None:
        bounds = _compute_bounds(df, dims)
    vs = _minspace_exprs(df, dims, bounds)

    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    p = partitions or _default_param(algo, d, parallelism)

    if algo == "MR_DIM":
        key, ncells = _mr_dim_key(vs, p)
    elif algo == "MR_GRID":
        key, ncells = _mr_grid_key(vs, p)
    else:
        key, ncells = _mr_angle_key(vs, p)

    keyed = df.withColumn(_CELL, key)
    if algo == "MR_GRID" and d > 1:
        # Dominated-cell pruning: rows in cells strictly dominated by a
        # nonempty cell can never be skyline points (per group when
        # ``by`` is set — dominance never crosses groups).
        if by:
            keyed = _grid_prune_grouped(keyed, p, d, list(by))
        else:
            keyed = keyed.filter(F.col(_CELL).isin(_grid_surviving_cells(keyed, p, d)))

    dim_cols = [c for c, _ in dims]
    senses = [s for _, s in dims]
    by = list(by or ())

    # Giant-cell guard (SURVEY.md §7.3): a hot or lone cell would funnel
    # its whole population into ONE applyInPandas group — the OOM shape
    # at scale. Salt the cell id so the first local pass splits every
    # cell into sub-groups (partial frontiers); the tree merge below
    # folds the salt back out, and skyline(union) == skyline(union of
    # partial skylines) keeps this exact. No-op when the cell count
    # already saturates the cluster.
    # Grouped skylines with CALLER-SIZED cells (non-empty ``by`` AND an
    # explicit ``partitions <= parallelism``) skip the salt: the guard's
    # ncells-only arithmetic would salt a deliberately small cell count
    # back up to parallelism x 4 sub-groups, defeating callers that size
    # the split to known-small per-group populations (e.g. the
    # post-stream frontier reduce). A LARGE explicit partitions is not
    # such a promise, so the hot-group guard stays there.
    target_groups = max(2, parallelism) * 4
    salt_mod = (
        1
        if (by and partitions is not None and partitions <= max(2, parallelism))
        else max(1, math.ceil(target_groups / max(ncells, 1)))
    )
    if salt_mod > 1:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in dim_cols]), F.lit(salt_mod)
        ).cast("long")
        keyed = keyed.withColumn(_CELL, F.col(_CELL) * F.lit(salt_mod) + salt)
        ncells *= salt_mod

    # the combiner pays an extra Python/Arrow pass to shrink the exchange:
    # worth it when the shuffle is network/disk-bound (big inputs on a
    # cluster), a net loss for small local shuffles
    combine = est > SMALL_INPUT_BYTES if MAP_SIDE_COMBINE is None else MAP_SIDE_COMBINE
    if combine:
        keyed = _map_side_prereduce(keyed, dim_cols, senses, by)

    out = _local_skyline_pass(keyed, dim_cols, senses, by)
    return _global_merge(out, dim_cols, senses, by, ncells, est).drop(_CELL)


def _global_merge(out: DataFrame, dim_cols, senses, by, ncells: int, est: int) -> DataFrame:
    """Merge the local frontiers ``out`` (cell column still attached).

    The tree merge's final fold runs the whole frontier through ONE
    applyInPandas group — fine for typical frontiers, minutes
    single-threaded for the huge ones (high-d / anticorrelated data).
    ``MERGE_STRATEGY`` "auto" materializes the local frontiers, counts
    them, and switches to ``_broadcast_final_filter`` when the count is
    in (``BROADCAST_THRESHOLD``, ``BROADCAST_CAP``]; outside that range,
    or for grouped skylines (whose parallelism comes from groups), it
    tree-merges. "broadcast" forces the parallel filter, "tree" the fold
    (also the past-cap fallback: such frontiers are never collected).
    """
    strategy = MERGE_STRATEGY
    if strategy not in ("auto", "tree", "broadcast"):
        raise ValueError(f"MERGE_STRATEGY must be auto/tree/broadcast, got {strategy!r}")
    if strategy == "auto" and len(dim_cols) <= 4 and 0 < est <= SMALL_INPUT_BYTES:
        # Probe-skip gate (same size gate as the map-side combiner): the
        # probe below costs one fixed extra job (checkpoint + count), and
        # a small LOW-d input cannot grow a frontier big enough to hit
        # the tree's single-group wall, so go straight to the tree. High
        # d keeps the probe regardless of size (frontier growth is
        # exponential in d: d=10/1e5 is ~8 MB of input but a 68k-point
        # frontier — minutes in the tree's final fold, seconds
        # broadcast-filtered), and large inputs keep it at any d. A
        # FAILED size estimate (est == 0) keeps the probe — unknown is
        # not small.
        strategy = "tree"
    if strategy != "tree" and not by and ncells > 1:
        # The lazy checkpoint materializes inside the count job (one
        # extra job, not two) and the chosen merge path reuses it.
        out = out.localCheckpoint(eager=False)
        n_cand = out.count()
        if strategy == "broadcast" or BROADCAST_THRESHOLD < n_cand <= BROADCAST_CAP:
            return _broadcast_final_filter(out, dim_cols, senses)

    # Tree merge: repeatedly fold cell ids and re-run the kernel until a
    # single group remains. Replaces the reference's one-task global
    # reduce (src/jobs/batch_job.py:183-188) that its own report calls
    # the scaling wall (report p.3).
    while ncells > 1:
        ncells = max(1, math.ceil(ncells / MERGE_FANOUT))
        out = out.withColumn(_CELL, F.pmod(F.col(_CELL), F.lit(ncells)))
        out = _local_skyline_pass(out, dim_cols, senses, by)
    return out


def skyline_antijoin(df: DataFrame, dims) -> DataFrame:
    """Skyline as a pure-Catalyst dominance ANTI-join — the declarative
    ``NOT EXISTS`` formulation (SURVEY.md §2.3): keep row p iff no row q
    dominates it.

    This is a theta join, so Spark executes it as a broadcast
    nested-loop — O(n²) work with one side broadcast. It is the right
    tool ONLY for small inputs (a pre-filtered candidate set, a local
    debug check, the oracle cross-check); the partitioned kernel path
    (``skyline``) is the at-scale operator. Provided because it is
    whole-stage-codegen'd, zero-Python, and exactly mirrors the SQL
    oracle — a differential anchor for the kernel path.
    """
    df, dims = _prepare(df, dims)
    return df.alias("p").join(df.alias("q"), _dominates("q", "p", dims), "left_anti")


def skyline_witness(
    df: DataFrame, dims, id_col: str, max_frontier: int = 2_000_000
) -> DataFrame:
    """Dominance explanation: for every row, the MINIMUM ``id_col`` of a
    SKYLINE member that dominates it (NULL for skyline members — nobody
    dominates them). The "why was my row excluded" debugging/tiering
    primitive; restricting witnesses to the frontier is sound because
    dominance is transitive, so every dominated row has a frontier
    dominator.

    Scale shape: the frontier comes from the partitioned ``skyline``
    operator, is BROADCAST (frontiers are small by construction — this
    operator refuses past ``max_frontier`` rows), and the dominance
    theta-join + min-aggregate runs map-side against the full table:
    one broadcast, one shuffle-free scan, one hash aggregate keyed on
    ``id_col`` (which must be unique — the witness contract is
    per-entity). Rows failing the comparable-row guard (``_prepare``)
    are outside the frontier and their witness is NULL.

    Returns ``(id_col, *dim_cols, witness)``.
    """
    if id_col not in df.columns:
        raise ValueError(f"id_col {id_col!r} not in DataFrame columns {df.columns}")
    flagged, dims = _prepare(df, dims, flag=True)
    dim_cols = [c for c, _ in dims]
    # lazy checkpoint: the guard count is the materializing job (same
    # one-job pattern as the adaptive merge in skyline())
    frontier = skyline(df, dims).select(
        F.col(id_col).alias("__w_id"), *dim_cols
    ).localCheckpoint(eager=False)
    n_frontier = frontier.count()
    if n_frontier > max_frontier:
        raise ValueError(
            f"frontier has {n_frontier} rows > max_frontier={max_frontier}; "
            "broadcasting it for the dominance join would not be safe "
            "(anticorrelated data can put most of the table on the frontier)"
        )
    joined = flagged.select(id_col, *dim_cols, _OK).alias("p").join(
        F.broadcast(frontier.alias("q")),
        F.col(f"p.{_OK}") & _dominates("q", "p", dims),
        "left",
    )
    return joined.groupBy(*[F.col(f"p.`{c}`") for c in (id_col, *dim_cols)]).agg(
        F.min("q.__w_id").alias("witness")
    )


def representative_skyline(
    df: DataFrame,
    dims,
    k: int,
    id_col: str,
    max_frontier: int = 2_000_000,
) -> DataFrame:
    """Distance-based representative skyline (Tao et al., ICDE 2009
    shape): ``k`` frontier points that SPREAD over the frontier —
    the human-consumable answer when the full frontier is thousands of
    points ("show me 10 representative trade-offs").

    Greedy farthest-point selection in normalized min-space: the seed
    is the point with the best overall sum (closest to the ideal
    corner), then each step adds the frontier point maximizing its
    minimum distance to the chosen set (deterministic ties by id).
    Farthest-point greedy is the classic 2-approximation of the
    max-min dispersion optimum.

    Scale shape: the frontier comes from the partitioned ``skyline``
    operator; only its (id, dims) matrix is collected — refused loudly
    past ``max_frontier`` rows — and the O(k·F·d) greedy runs in NumPy
    on the driver. Result rows keep the full input schema (semi-join
    on ``id_col``, which must be unique).
    """
    import numpy as np

    dims = _normalize_dims(dims)
    if k < 1:
        raise ValueError("k must be >= 1")
    if id_col not in df.columns:
        raise ValueError(f"id_col {id_col!r} not in DataFrame columns {df.columns}")
    frontier = skyline(df, dims)
    rows = frontier.select(
        id_col, *[_numeric_expr(frontier, c).alias(f"__d{i}") for i, (c, _) in enumerate(dims)]
    ).limit(max_frontier + 1).collect()
    if len(rows) > max_frontier:
        raise ValueError(
            f"frontier exceeds max_frontier={max_frontier}; representative "
            "selection needs the frontier matrix on the driver"
        )
    if not rows:
        return df.limit(0)
    ids = [r[0] for r in rows]
    X = np.asarray([[r[i + 1] for i in range(len(dims))] for r in rows], dtype=np.float64)
    # normalize each dim to [0,1] in MIN space over the frontier
    lo, hi = X.min(axis=0), X.max(axis=0)
    span = np.where(hi > lo, hi - lo, 1.0)
    M = (X - lo) / span
    for i, (_, sense) in enumerate(dims):
        if sense == "max":
            M[:, i] = 1.0 - M[:, i]
    chosen = []
    in_chosen = set()
    # seed: best overall (min normalized sum), ties by smallest id
    sums = M.sum(axis=1)
    seed = min(range(len(ids)), key=lambda j: (sums[j], ids[j]))
    chosen.append(seed)
    in_chosen.add(seed)
    mind = np.linalg.norm(M - M[seed], axis=1)
    while len(chosen) < min(k, len(ids)):
        # skip already-chosen indices: when every remaining point is an
        # exact duplicate (all distances 0) the contract still promises
        # min(k, frontier) DISTINCT rows
        nxt = None
        for j in range(len(ids)):
            if j in in_chosen:
                continue
            if nxt is None or mind[j] > mind[nxt] or (
                mind[j] == mind[nxt] and ids[j] < ids[nxt]
            ):
                nxt = j
        chosen.append(nxt)
        in_chosen.add(nxt)
        mind = np.minimum(mind, np.linalg.norm(M - M[nxt], axis=1))
    picked = [ids[j] for j in chosen]
    picked_df = df.sparkSession.createDataFrame(
        [(p,) for p in picked], [id_col]
    )
    return df.join(F.broadcast(picked_df), id_col, "left_semi")


def warm_up(
    spark,
    d: int,
    algo: str = "auto",
    rows: int = 20_000,
    passes: int = 2,
) -> int:
    """Pre-warm the skyline execution path for ``d``-dimensional
    queries on a COLD JVM/worker fleet (r10 verdict ask #7: the
    d7/1e7 sweep's first pass ran ~4x steady state, a monotone
    JIT/Arrow warm-in decay, not data work).

    Runs the full skyline pipeline ``passes`` times over a tiny
    synthetic ``rows`` x ``d`` integer table (xxhash64-mixed,
    deterministic, generated JVM-side — no driver data transfer).
    What it warms, in cost order:

    * whole-stage-codegen classes for the d-column keying/prune plan
      shape (Janino compile is per shape, cached thereafter) and the
      C2 tier of their hot loops (~10k row-iterations crosses the
      default compile threshold; the second pass executes compiled
      code and lets async C2 land);
    * the Arrow serialization bridge both ways (first use lazy-inits
      writers/readers per JVM);
    * the Python worker fleet: process spawn + numpy/pandas/kernel
      imports (~1 s per worker if paid inside a real query).

    Bounded by construction: tiny input, no data dependence, a few
    seconds once per executor lifetime — on a real cluster call it
    right after session start; bench.py --sweep calls it per distinct
    d before timing. Returns the warm-up frontier size (forces full
    execution)."""
    if d < 1:
        raise ValueError(f"d must be >= 1, got {d}")
    cols = [f"__w{i}" for i in range(d)]
    base = spark.range(0, int(rows), 1, spark.sparkContext.defaultParallelism)
    df = base.select(
        *[
            F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(1_000_000_000))
            .cast("long")
            .alias(c)
            for i, c in enumerate(cols)
        ]
    )
    dims = [(c, "min") for c in cols]
    n = 0
    for _ in range(max(1, int(passes))):
        n = skyline(df, dims, algo=algo).count()
    return n


def windowed_skyline(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    dims,
    **kwargs,
) -> DataFrame:
    """Per-tumbling-window skyline (an extension the reference lacks —
    it has no event time at all, SURVEY.md §2.3): one independent
    frontier per ``F.window(ts, duration)`` bucket, implemented as a
    grouped skyline on the window struct. Composable with streaming via
    ``foreachBatch``. Output carries ``window_start``/``window_end``."""
    w = F.window(F.col(ts_col), window_duration)
    tagged = df.withColumn("window_start", w["start"]).withColumn(
        "window_end", w["end"]
    )
    # scalar (non-struct) group key so the map-side combiner's pandas
    # groupby stays hashable
    return skyline(tagged, dims, by=["window_start", "window_end"], **kwargs)


def skyline_sql(df: DataFrame, query: str, **kwargs) -> DataFrame:
    """Reference-compatible front door: ``skyline_sql(df, "SKYLINE OF a
    MIN, b MAX")`` (grammar of src/utils/functions.py:303-333, plus
    column-name validation)."""
    return skyline(df, parse_skyline_query(query), **kwargs)


def skyline_layers(
    df: DataFrame,
    dims,
    n_layers: int = 3,
    algo: str = "auto",
    partitions: int | None = None,
    bounds: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Onion-peeling skyline layers: layer 1 is the skyline, layer i the
    skyline of the input with layers 1..i-1 removed — the classic
    layered-frontier decomposition (top-tier / next-tier ranking
    without a scoring function; the iterative extension of the
    reference's single-layer operator).

    Driver loop of ``n_layers`` skyline passes; each peel removes the
    current frontier with a broadcast anti-join on the dimension
    columns (a frontier is small relative to its dataset — broadcasting
    it is the scale-correct join side). The shrinking remainder is
    localCheckpointed per round so plan depth stays O(1) per layer
    instead of O(layers) nested anti-joins.

    Returns the rows of the first ``n_layers`` layers with a ``layer``
    column (1-based). Rows tied on all dimension columns land in the
    same layer (dominance treats all-equal as incomparable).
    """
    if n_layers <= 0:
        raise ValueError("n_layers must be positive")
    remainder, dims = _prepare(df, dims)
    algo = _pick_algo(algo, len(dims))
    dim_cols = [c for c, _ in dims]
    # one bounds pass and one size estimate for all peels: every
    # remainder is a subset of the first, so its bounds contain the data
    # and the size-gated choices (combiner, probe skip) decide alike
    if bounds is None:
        bounds = _compute_bounds(remainder, dims)
    est = _estimated_bytes(remainder)
    out: DataFrame | None = None
    for layer in range(1, n_layers + 1):
        # checkpoint each frontier: it feeds BOTH the peel anti-join and
        # the final union, and without the lineage cut the whole
        # local-pass + merge pipeline re-executes per consumer.
        front = _skyline(remainder, dims, algo, partitions, bounds, None, est).localCheckpoint(
            eager=False
        )
        tagged = front.withColumn("layer", F.lit(layer).cast("long"))
        out = tagged if out is None else out.unionByName(tagged)
        if layer == n_layers:
            break
        # remove every row coordinate-tied with a frontier member: the
        # next layer is the skyline of what remains
        keys = front.select(*dim_cols).dropDuplicates()
        remainder = remainder.join(
            F.broadcast(keys), dim_cols, "left_anti"
        ).localCheckpoint(eager=False)
    return out
