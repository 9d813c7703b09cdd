"""Time-series regularization over an event stream (SURVEY §2.11 —
the resample/gap-fill step feature pipelines need before any
fixed-step model sees event data).

Event tables are irregular; training features, dashboards, and
joins-on-time want a REGULAR grid. :func:`resample_ffill` builds each
key's hourly (or any step) spine from its own observed range,
aggregates observations into their grid cell, and forward-fills empty
cells from the last observed value — pandas ``resample().ffill()``
semantics, expressed as three relational steps:

1. cell aggregation: ``date_trunc`` (or an epoch-aligned multiple of
   the step) + groupBy — map-side combinable, one shuffle on (key, cell);
2. spine: per-key ``sequence(min_cell, max_cell, step)`` exploded —
   rows = keys x cells-in-range, the resample's intrinsic output size
   (nothing hidden: the spine IS the result grid);
3. fill: ``last(value, ignorenulls=True)`` over (key, cell asc) — one
   window over the spine, never over the raw events.

Scale shape: the raw event table is touched once (step 1) and reduced
to cells before anything else; the spine/window work on the GRID,
whose size is keys x range/step regardless of event volume — a 100 TB
event table with 1M keys and a year of hourly cells grids to 8.8B
rows no matter how many trillions of events fed it. Skewed keys cost
window IO (external sort), not memory.

Engine parity: the fill value is the MAX observation in a cell
(commutative — safe under any arrival order on both engines);
DuckDB replays the spine via generate_series and the fill via
``last_value(... IGNORE NULLS)``.

Reference: no counterpart (the reference has no time-series surface);
part of the analytics surface this engine adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Units of constant length: their multiples snap to the epoch. Calendar
# units (week, month, quarter, year) are only valid as a single unit.
_FIXED_UNIT_SECONDS = {"second": 1, "minute": 60, "hour": 3_600, "day": 86_400}


def _parse_step(step: str) -> tuple[int, str]:
    """``"<n> <unit>"`` -> ``(n, unit)`` with the unit singular;
    rejects any other shape, and multiples of a calendar unit."""
    parts = step.split()
    if len(parts) != 2 or not parts[0].isdigit() or int(parts[0]) < 1:
        raise ValueError(f"step must be '<n> <unit>' with n >= 1, got {step!r}")
    n, unit = int(parts[0]), parts[1].lower().rstrip("s")
    if n > 1 and unit not in _FIXED_UNIT_SECONDS:
        raise ValueError(
            f"step {step!r}: multiples need a fixed-width unit "
            f"({', '.join(_FIXED_UNIT_SECONDS)}); calendar units take n = 1"
        )
    return n, unit


def _grid_cell(ts: Column, step: str) -> Column:
    """The grid cell of ``ts``: ``date_trunc`` for a single unit; for
    ``n`` fixed-width units, the multiple of the step since the Unix
    epoch at or before ``ts``, so any two cells of one key lie a whole
    number of steps apart."""
    n, unit = _parse_step(step)
    if n == 1:
        return F.date_trunc(unit, ts)
    width = n * _FIXED_UNIT_SECONDS[unit]
    secs = F.unix_seconds(ts)
    return F.timestamp_seconds(secs - F.pmod(secs, F.lit(width)))


def _step_interval(step: str) -> Column:
    """The step as an interval; a multi-unit step as exact seconds, so
    stepping between epoch-aligned cells never meets a calendar day."""
    n, unit = _parse_step(step)
    if n == 1:
        return F.expr(f"interval {step}")
    return F.expr(f"interval {n * _FIXED_UNIT_SECONDS[unit]} seconds")


def cell_aggregates(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    step: str = "1 hour",
    round_dp: int = 6,
) -> DataFrame:
    """The resample family's HELD STATE: ``(key, cell, _v)`` with
    ``_v = max(value)`` per grid cell — the only corpus-sized pass, and
    MERGEABLE (max of maxes == max of the union), so arriving batches
    absorb by :func:`absorb_cells` without rescanning history: the
    DedupState/KMV/moments ingest shape for time series.

    ``step`` is ``"<n> <unit>"``. A single unit cells by ``date_trunc``;
    ``n`` seconds, minutes, hours or days cell on multiples of the step
    since the Unix epoch; a multiple of a calendar unit (``"2 months"``)
    raises ``ValueError``."""
    cell = _grid_cell(F.col(ts_col), step)
    return (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(key), cell.alias("cell"))
        .agg(F.round(F.max(value_col), round_dp).alias("_v"))
    )


def absorb_cells(
    state: DataFrame, batch_cells: DataFrame, key: str
) -> DataFrame:
    """Fold a batch's cell aggregates into held state: union + re-max —
    exact for the union of the underlying events regardless of arrival
    order (max is commutative/associative; the streamed end-state is
    oracle-checked equal to the one-shot batch resample)."""
    return (
        state.unionByName(batch_cells)
        .groupBy(key, "cell")
        .agg(F.max("_v").alias("_v"))
    )


def _anchor_segments(cells: DataFrame, key: str, step: str) -> DataFrame:
    """Each observed cell with its half-open grid segment up to the
    NEXT observed cell, pre-exploded: ``(key, _v, _nv, _span, _pos,
    cell)`` where ``_pos`` is the integer number of steps from the
    anchor (0 = the observed cell itself) and ``_span`` the steps to
    the next anchor (r17, guide §2.4). The ONLY window runs over the
    OBSERVED cells — the held-state frame, corpus-independent and far
    smaller than the grid — and the grid rows fall straight out of
    ``posexplode(sequence(...))``: the old spine-join plus grid-sized
    fill-window sorts (two full sorts of keys x range/step rows for
    the interpolating variant) are gone. The exploded row count is the
    grid itself — the resample's intrinsic output size, unchanged."""
    w = Window.partitionBy(key).orderBy(F.col("cell").asc())
    step_i = _step_interval(step)
    seg = (
        cells.withColumn("_nc", F.lead("cell").over(w))
        .withColumn("_nv", F.lead("_v").over(w))
        .withColumn(
            "_seq",
            F.when(
                F.col("_nc").isNotNull(),
                F.sequence(F.col("cell"), F.col("_nc") - step_i, step_i),
            ).otherwise(F.array(F.col("cell"))),
        )
    )
    return seg.select(
        key,
        "_v",
        "_nv",
        F.size("_seq").alias("_span"),
        F.posexplode("_seq").alias("_pos", "cell"),
    )


def regrid_ffill(cells: DataFrame, key: str, step: str = "1 hour") -> DataFrame:
    """Forward fill over a held cell frame — the grid half of
    :func:`resample_ffill`, usable directly on absorbed/streamed state
    (the corpus is never touched here; the grid is keys x range/step).
    Forward fill IS the anchor-segment expansion: every grid cell in
    ``[anchor, next anchor)`` carries the anchor's value
    (:func:`_anchor_segments` — no grid-sized join or window)."""
    return _anchor_segments(cells, key, step).select(
        key,
        "cell",
        F.col("_v").alias("value"),
        (F.col("_pos") == 0).alias("observed"),
    )


def resample_ffill(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    step: str = "1 hour",
    round_dp: int = 6,
) -> DataFrame:
    """Regularize ``df`` to a per-``key`` grid of ``step`` cells from
    the key's first observed cell to its last, carrying
    ``value = max(value_col)`` per cell and forward-filling empty
    cells; ``observed`` marks real cells. Returns
    ``(key, cell, value, observed)``.

    The first cell of every key is observed by construction (the spine
    starts at the key's own min), so the fill never emits NULL.
    Composition of :func:`cell_aggregates` (the held, mergeable state)
    and :func:`regrid_ffill` (the grid) — the streaming deployment
    absorbs batches into the state and regrids on demand."""
    return regrid_ffill(
        cell_aggregates(df, key, ts_col, value_col, step, round_dp), key, step
    )


def resample_interpolate(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    step: str = "1 hour",
    round_dp: int = 6,
) -> DataFrame:
    """Linear-interpolation variant: empty cells take the straight line
    between the PREVIOUS and NEXT observed cells (pandas
    ``interpolate(method='time')`` on a regular grid); trailing cells
    past the last observation forward-fill (no next anchor).

    Plan (r17, guide §2.4 — remove shuffles/sorts outright): the grid
    is generated per ANCHOR SEGMENT via :func:`_anchor_segments` —
    ``posexplode``'s position is exactly the row-number distance the
    old formulation derived from two GRID-sized running windows (the
    grid is complete by construction, one row per step), so the
    previous/next anchors and their distances are segment columns and
    the plan drops the spine join plus BOTH grid-sized window sorts
    (measured: 2 sorts of keys x range/step rows -> 1 sort of the
    observed cells only). Values are bit-identical (same anchors, same
    integer distances, same integer midpoint formula; oracle-pinned).

    Determinism: anchors are the per-cell max observation, positions
    are integer cell indexes, and the interpolation itself runs in
    INTEGER micro-units with an integer round-half-up —
    ``(2*numer + den) div (2*den)`` — because ``round(double, 6)`` of
    a midpoint (which linear interpolation produces CONSTANTLY: every
    frac=1/2 cell between two 6dp anchors is an exact decimal half)
    disagrees between engines at the half boundary (the queries.py
    header rule, measured on this very operator). Integer division is
    bit-identical everywhere. Anchors must be non-negative for the
    half-up formula (asserted in-plan). Returns
    ``(key, cell, value, observed)``."""
    cells = cell_aggregates(df, key, ts_col, value_col, step, round_dp)
    grid = _anchor_segments(cells, key, step)
    # integer micro-unit interpolation (see docstring): anchors are
    # 6dp-rounded, so anchor*10^dp is integer up to float noise — one
    # boundary-free integer round recovers it exactly; the midpoint
    # round-half-up then happens in pure integer math, identical on
    # every engine. Guard: negative anchors would need a different
    # half-up formula — fail loudly rather than silently mis-round.
    scale = 10**round_dp
    pv6 = F.round(F.col("_v") * scale).cast("long")
    nv6 = F.round(F.col("_nv") * scale).cast("long")
    pv6 = F.when(
        F.assert_true(
            pv6 >= 0,
            F.lit("resample_interpolate: negative values unsupported "
                  "(integer half-up midpoint formula assumes >= 0)"),
        ).isNull(),
        pv6,
    )
    num = pv6 * (F.col("_span") - F.col("_pos")) + nv6 * F.col("_pos")
    den = F.col("_span")
    # true INTEGER division (SQL `div` / IntegralDivide), not
    # float-divide + floor: the float quotient loses ulps once
    # 2*num+den nears 2^53, so floor(float) can be off by one where
    # integer div is exact (r10 advice) — this is the docstring\'s
    # claimed arithmetic, literally, and it matches the DuckDB
    # oracle\'s `//` bit-for-bit at any magnitude.
    interp = F.call_function(
        "div", (F.lit(2) * num + den).cast("long"), (F.lit(2) * den).cast("long")
    ) / F.lit(float(scale))
    value = F.when(F.col("_pos") == 0, F.col("_v")).otherwise(interp)
    return grid.select(
        key,
        "cell",
        value.alias("value"),
        (F.col("_pos") == 0).alias("observed"),
    )


def rolling_active(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Sliding-window distinct count over a day grid — the DAU/WAU/MAU
    family (``active(d)`` = distinct keys with any event in the
    window_days ending at d, inclusive).  The naive relational form is
    a per-day self-join or a range-frame ``collect_set`` window — both
    quadratic in the window.  This is the linear COVERED-DAY expansion:

    1. reduce events to distinct ``(key, day)`` marks — the only
       corpus-sized pass, one map-side-combinable shuffle;
    2. each mark covers report days ``day .. day+window_days-1``
       (``explode(sequence(...))`` — a bounded x``window_days`` blowup
       of the MARK table, never of the raw events);
    3. dedup ``(key, report_day)`` and count per day — a key whose
       events hit several days of one window still counts once.

    Days inside the observed range with no covered activity surface as
    0 via a ``sequence(min_day, max_day)`` spine (one-row bounds
    broadcast), and coverage past the last observed day is clipped —
    the output is exactly one row per day of the observed range.

    Scale shape: everything downstream of step 1 is sized by
    keys x active-days x window_days regardless of event volume; the
    count shuffle is keyed (day), a few thousand groups — at 100 TB
    the cost is the one distinct over (key, day), which is the
    irreducible information content of the metric.  All-integer
    output: engine-exact (DuckDB replays via generate_series).
    """
    if window_days < 1:
        raise ValueError("window_days must be >= 1")
    day = F.to_date(F.date_trunc("day", F.col(ts_col)))
    marks = (
        df.where(F.col(ts_col).isNotNull() & F.col(key_col).isNotNull())
        .select(day.alias("day"), F.col(key_col).alias("_k"))
        .dropDuplicates(["day", "_k"])
    )
    bounds = marks.agg(
        F.min("day").alias("_d0"), F.max("day").alias("_d1")
    )
    covered = (
        marks.select(
            F.explode(
                F.sequence(
                    F.col("day"), F.date_add(F.col("day"), window_days - 1)
                )
            ).alias("day"),
            "_k",
        )
        .dropDuplicates(["day", "_k"])
        .groupBy("day")
        .agg(F.count("*").alias("_n"))
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("_d0"), F.col("_d1"))).alias("day")
    )
    return (
        spine.join(covered, "day", "left")
        .select("day", F.coalesce(F.col("_n"), F.lit(0)).alias("active"))
    )
