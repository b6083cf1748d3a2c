"""Join operators (SURVEY §2.4 J1-J3, §2.10 G3).

Reference joins: left equi-joins of a table against its own tiny aggregate
(R_groupe4.R:200-203, 630-631, 681-682, 723-724) and a 1-nearest-neighbor
spatial join used for imputation (R_groupe4.R:110-142 — an O(n·m)
interpreted loop there; here a broadcast cross join + ``min_by``, and a
grid-bucketed variant for the 100 TB path).

The engine otherwise exposes Spark's full join surface
(inner/left/right/full/semi/anti/cross) directly via ``df.join``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import euclidean_distance
from ..sources.readers import footer_row_bound


def decorate_with_group_agg(
    df: DataFrame, agg_df: DataFrame, on: str | list[str], how: str = "left"
) -> DataFrame:
    """J1/J2: attach a per-group aggregate back onto the fact table.
    The aggregate side is |groups| rows; no forced hint — Catalyst
    broadcasts it when it fits (no fact-side shuffle) and falls back to a
    shuffle join when the group key is high-cardinality (per-user /
    per-document groups grow with the data, so a forced broadcast would
    OOM the executors at 100 TB)."""
    return df.join(agg_df, on, how)


def knn_join_1nn(
    probes: DataFrame,
    known: DataFrame,
    probe_id: str,
    probe_coords: tuple[str, str],
    known_coords: tuple[str, str],
    payload_cols: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """J3/G3: for each probe row, the payload of the Euclidean-nearest known
    row (reference: per-row distance scan + ``which.min``,
    R_groupe4.R:110-142).

    Physical plan: broadcast-nested-loop of the (small) known side against
    probes, then a single ``min_by`` aggregate per probe — no shuffle of the
    probe side beyond the final per-probe aggregation. Probes stay in the
    partitions they are read in: :func:`knn_join_1nn_auto` comes here only
    when |probes|·|known| is small, and then a round-robin exchange plus
    its extra stage costs more than the nested loop it would spread over
    the cores (the grid path's residual pass, which may face a large known
    side, spreads its probes itself). Correct whenever the known side fits
    in a broadcast (the reference's case: ≤10⁴ rows). For big×big, use
    :func:`knn_join_1nn_grid_exact`.

    Ties on distance break on ``tiebreak`` (ascending) for determinism —
    the reference's ``which.min`` keeps the first index, an ingest-order
    artifact we pin explicitly instead.
    """
    px, py = probe_coords
    kx, ky = known_coords
    k = known.select(
        F.col(kx).alias("__kx"),
        F.col(ky).alias("__ky"),
        *[F.col(c).alias(f"__p_{c}") for c in payload_cols],
        *( [F.col(tiebreak).alias("__tb")] if tiebreak else [] ),
    )
    dist = euclidean_distance(F.col(px), F.col(py), F.col("__kx"), F.col("__ky"))
    # no repartition of the probes: the work is small (see the docstring),
    # so one task per input partition beats a round-robin exchange
    joined = probes.join(F.broadcast(k), how="cross").withColumn("__dist", dist)
    order = F.struct(
        *( [F.col("__dist"), F.col("__tb")] if tiebreak else [F.col("__dist")] )
    )
    pay = F.struct(*[F.col(f"__p_{c}") for c in payload_cols])
    first_probe_cols = [c for c in probes.columns]
    best = joined.groupBy(probe_id).agg(
        F.min_by(pay, order).alias("__best"),
        *[
            F.first(c).alias(c)
            for c in first_probe_cols
            if c != probe_id
        ],
    )
    out = best.select(
        *first_probe_cols,
        *[F.col(f"__best.__p_{c}").alias(c) for c in payload_cols],
    )
    return out


def knn_join_1nn_grid(
    probes: DataFrame,
    known: DataFrame,
    probe_id: str,
    probe_coords: tuple[str, str],
    known_coords: tuple[str, str],
    payload_cols: list[str],
    cell_size: float,
    tiebreak: str | None = None,
) -> DataFrame:
    """J3 at scale: grid-bucketed 1-NN — bucket both sides into cells of
    ``cell_size``, equi-join each probe cell against its 3×3 neighborhood,
    take per-probe min_by. Turns the cross join into an equi-join keyed on
    cell id (shuffle both sides on the cell key; no broadcast needed).

    Correct when the true nearest neighbor is within one cell of the probe
    (pick ``cell_size`` ≥ max expected NN distance); callers needing a
    guarantee re-run the residual probes with a doubled cell size.
    """
    px, py = probe_coords
    kx, ky = known_coords

    def cell(c: Column, size: float) -> Column:
        return F.floor(c / F.lit(size)).cast("long")

    k = known.select(
        F.col(kx).alias("__kx"),
        F.col(ky).alias("__ky"),
        *[F.col(c).alias(f"__p_{c}") for c in payload_cols],
        *( [F.col(tiebreak).alias("__tb")] if tiebreak else [] ),
    ).withColumns({"__kcx": cell(F.col("__kx"), cell_size), "__kcy": cell(F.col("__ky"), cell_size)})

    # each known row is replicated into its 3x3 neighborhood so the probe
    # side joins on its own cell only (replicate the smaller side)
    offsets = F.expr("explode(arrays_zip(array(-1,-1,-1,0,0,0,1,1,1), array(-1,0,1,-1,0,1,-1,0,1)))")
    k_rep = k.select("*", offsets.alias("__o")).withColumns(
        {
            "__jcx": F.col("__kcx") + F.col("__o.0"),
            "__jcy": F.col("__kcy") + F.col("__o.1"),
        }
    ).drop("__o", "__kcx", "__kcy")

    p = probes.withColumns(
        {"__jcx": cell(F.col(px), cell_size), "__jcy": cell(F.col(py), cell_size)}
    )
    joined = p.join(k_rep, ["__jcx", "__jcy"], "inner").withColumn(
        "__dist", euclidean_distance(F.col(px), F.col(py), F.col("__kx"), F.col("__ky"))
    )
    order = F.struct(
        *( [F.col("__dist"), F.col("__tb")] if tiebreak else [F.col("__dist")] )
    )
    pay = F.struct(*[F.col(f"__p_{c}") for c in payload_cols])
    probe_cols = [c for c in probes.columns]
    best = joined.groupBy(probe_id).agg(
        F.min_by(pay, order).alias("__best"),
        *[F.first(c).alias(c) for c in probe_cols if c != probe_id],
    )
    return best.select(
        *probe_cols,
        *[F.col(f"__best.__p_{c}").alias(c) for c in payload_cols],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload_cols: list[str],
) -> DataFrame:
    """As-of join (most recent right row at-or-before each left row, per key).

    Thin compatibility wrapper over the full implementation in
    :func:`..operators.temporal.asof_join` (direction, tolerance,
    exact-match control, deterministic tie-break live there). The matched
    right timestamp is dropped here to preserve this signature's original
    output shape (left columns + payloads only)."""
    from .temporal import asof_join as _asof

    return _asof(
        left,
        right,
        on=[on],
        left_ts=left_time,
        right_ts=right_time,
        payload_cols=payload_cols,
        matched_ts_col="__matched_ts",
    ).drop("__matched_ts")


def knn_join_1nn_grid_exact(
    probes: DataFrame,
    known: DataFrame,
    probe_id: str,
    probe_coords: tuple[str, str],
    known_coords: tuple[str, str],
    payload_cols: list[str],
    cell_size: float,
    tiebreak: str | None = None,
    max_rounds: int = 8,
) -> DataFrame:
    """Exact big×big 1-NN: grid-bucketed rounds with doubling cell size.

    A 3×3-neighborhood candidate is provably the true NN only if its
    distance ≤ cell_size (anything outside the neighborhood is > cell_size
    away). Round k resolves the probes that pass that certificate; the
    residual probes re-run with cell_size×2. Every round is a pure
    equi-join — no cross join at any scale; typical data resolves ≥99% of
    probes in round 1.

    Row-preserving guarantee: probes still unresolved after ``max_rounds``
    (NN farther than cell_size·2^max_rounds, e.g. extreme outliers) are
    resolved by a final broadcast 1-NN pass over exactly those probes —
    the output always has one row per probe (empty ``known`` raises).
    """
    px, py = probe_coords
    kx, ky = known_coords
    from ..checkpointing import cut_lineage
    from ..functions.scalar import euclidean_distance

    resolved_parts: list[DataFrame] = []
    remaining = probes
    size = cell_size
    exhausted = True
    for _round in range(max_rounds):
        cand = knn_join_1nn_grid(
            remaining, known, probe_id, probe_coords, known_coords,
            payload_cols=[*payload_cols, kx, ky],
            cell_size=size, tiebreak=tiebreak,
        ).withColumn(
            "__d", euclidean_distance(F.col(px), F.col(py), F.col(kx), F.col(ky))
        )
        # snapshot before the certified/unresolved/no_cand fan-out — the
        # three branches would otherwise re-run the min_by job and a
        # tiebreak=None tie at the certify boundary could resolve
        # differently per job (duplicate or dropped probe)
        cand = cut_lineage(cand)
        certified = cand.filter(F.col("__d") <= F.lit(size)).drop("__d", kx, ky)
        resolved_parts.append(certified)
        unresolved = cand.filter(F.col("__d") > F.lit(size)).select(probe_id)
        no_cand = remaining.join(cand.select(probe_id), probe_id, "left_anti").select(probe_id)
        # checkpoint per round: the residual plan would otherwise nest the
        # whole previous round's join and recompute it every iteration
        remaining = cut_lineage(
            remaining.join(
                unresolved.unionByName(no_cand).distinct(), probe_id, "left_semi"
            ),
        )
        size *= 2.0
        if remaining.limit(1).count() == 0:
            exhausted = False
            break
    if exhausted:
        # residual probes (worst case: outliers beyond the doubled radius) —
        # the exact broadcast pass keeps the join row-preserving; by this
        # round the residual side is tiny, so the cross-join cost is bounded
        # spread over the cores: the known side may be large here
        par = probes.sparkSession.sparkContext.defaultParallelism
        resolved_parts.append(
            knn_join_1nn(
                remaining.repartition(par), known, probe_id,
                probe_coords, known_coords,
                payload_cols=payload_cols, tiebreak=tiebreak,
            )
        )
    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    return out


def _row_bound(df: DataFrame) -> int:
    """Rows of ``df``, or an upper bound on them from parquet footers when
    its plan allows one (no Spark job; see ``footer_row_bound``). A 1-NN
    dispatch may use the bound: a loose one can only send an input down the
    grid path, and both paths are exact."""
    n = footer_row_bound(df)
    return df.count() if n is None else n


def knn_join_1nn_auto(
    probes: DataFrame,
    known: DataFrame,
    probe_id: str,
    probe_coords: tuple[str, str],
    known_coords: tuple[str, str],
    payload_cols: list[str],
    tiebreak: str | None = None,
    work_threshold: int = 2_000_000,
    target_per_cell: float = 4.0,
) -> DataFrame:
    """1-NN with size-based dispatch — the engine's default 1-NN entry.

    |probes|·|known| ≤ ``work_threshold`` → the candidate set of the
    broadcast nested-loop is provably small, use :func:`knn_join_1nn`
    (the reference's regime: ≤10⁴ known rows, R_groupe4.R:110-142).
    Otherwise → :func:`knn_join_1nn_grid_exact` (pure equi-joins, exact,
    row-preserving), with the starting cell size derived from the known
    side's extent and density: ~``target_per_cell`` known rows per occupied
    cell, so round 1 resolves the bulk of probes and the certificate loop
    touches only the sparse tail. Exactness never depends on the cell-size
    guess — a bad guess only costs extra (cheap) rounds.
    """
    import math

    n_known = _row_bound(known)
    n_probes = _row_bound(probes)
    small = n_probes * n_known <= work_threshold
    kx, ky = known_coords
    s = None if small else known.agg(
        F.min(kx).alias("x0"), F.max(kx).alias("x1"),
        F.min(ky).alias("y0"), F.max(ky).alias("y1"),
    ).first()
    # empty known side: no probe has a nearest neighbor — the small-path
    # broadcast join below degenerates to an empty (schema-correct) result,
    # which is the empty-in/empty-out behavior a scheduled pipeline needs.
    # The second test catches a footer bound over a known side its filter
    # emptied.
    if small or s["x0"] is None or s["y0"] is None:
        return knn_join_1nn(
            probes, known, probe_id, probe_coords, known_coords,
            payload_cols=payload_cols, tiebreak=tiebreak,
        )
    ex = float(s["x1"]) - float(s["x0"])
    ey = float(s["y1"]) - float(s["y0"])
    if ex > 0 and ey > 0:
        cell = math.sqrt(ex * ey * target_per_cell / n_known)
    else:
        # degenerate (collinear) data: 1-D density
        extent = max(ex, ey)
        cell = (extent if extent > 0 else 1.0) * target_per_cell / max(n_known, 1)
    cell = max(cell, 1e-9)
    return knn_join_1nn_grid_exact(
        probes, known, probe_id, probe_coords, known_coords,
        payload_cols=payload_cols, cell_size=cell, tiebreak=tiebreak,
    )


def haversine_knn_1nn(
    probes: DataFrame,
    known: DataFrame,
    probe_id: str,
    probe_latlon: tuple[str, str],
    known_latlon: tuple[str, str],
    payload_cols: list[str],
    dist_col: str = "d_km",
    tiebreak: str | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Spherical (great-circle) 1-NN, broadcast regime: for each probe row
    the payload of the haversine-nearest known row, plus the distance.

    The distance is ROUNDED to ``round_to`` decimals BEFORE the argmin and
    ties break on ``tiebreak`` ascending — the q41/q297 doctrine that keeps
    libm trig ULP differences from flipping the winner between engines.

    Probes are not repartitioned, for the reason given in
    :func:`knn_join_1nn`. Correct whenever the known side fits in a
    broadcast; for big×big use :func:`haversine_knn_1nn_auto` (grid
    dispatch, same output contract).
    """
    from ..functions.geo import haversine_km

    plat, plon = probe_latlon
    klat, klon = known_latlon
    k = known.select(
        F.col(klat).alias("__klat"),
        F.col(klon).alias("__klon"),
        *[F.col(c).alias(f"__p_{c}") for c in payload_cols],
        *([F.col(tiebreak).alias("__tb")] if tiebreak else []),
    )
    joined = (
        probes.join(F.broadcast(k), how="cross")
        .withColumn(
            "__d",
            F.round(
                haversine_km(
                    F.col(plat), F.col(plon), F.col("__klat"), F.col("__klon")
                ),
                round_to,
            ),
        )
    )
    order = F.struct(
        *([F.col("__d"), F.col("__tb")] if tiebreak else [F.col("__d")])
    )
    pay = F.struct(*[F.col(f"__p_{c}") for c in payload_cols], F.col("__d"))
    probe_cols = [c for c in probes.columns]
    best = joined.groupBy(probe_id).agg(
        F.min_by(pay, order).alias("__best"),
        *[F.first(c).alias(c) for c in probe_cols if c != probe_id],
    )
    return best.select(
        *probe_cols,
        *[F.col(f"__best.__p_{c}").alias(c) for c in payload_cols],
        F.col("__best.__d").alias(dist_col),
    )


def haversine_knn_1nn_grid_exact(
    probes: DataFrame,
    known: DataFrame,
    probe_id: str,
    probe_latlon: tuple[str, str],
    known_latlon: tuple[str, str],
    payload_cols: list[str],
    cell_deg: float,
    dist_col: str = "d_km",
    tiebreak: str | None = None,
    round_to: int = 6,
    max_rounds: int = 8,
) -> DataFrame:
    """Exact big×big spherical 1-NN: grid-bucketed rounds with doubling
    cell size — the geodesic sibling of :func:`knn_join_1nn_grid_exact`.

    Both sides bucket into lat/lon cells of ~``cell_deg`` degrees (the lon
    width snaps to 360/n so the antimeridian wraps cleanly via pmod); the
    known side replicates into its 3×3 neighborhood and each round is a
    pure equi-join on (lat_row, lon_col). A per-probe candidate is
    CERTIFIED the true global NN when its distance ≤ r, where r is the
    provable minimum distance to any point outside the neighborhood:

      r = min( R·rad(h_lat),                         # Δlat > h_lat
               2R·asin(cos(φ_cap)·sin(rad(h_lon)/2)) )  # Δlon > h_lon

    with φ_cap = max |latitude| over both inputs (from
    sin²(θ/2) ≥ cos φ₁ cos φ₂ sin²(Δλ/2) ≥ cos²(φ_cap) sin²(Δλ/2)); when
    the 3×3 neighborhood already wraps the full circle (n_lon ≤ 3) only
    the latitude bound applies. A 10·10^-round_to km safety margin keeps
    the ROUNDED global ordering exact: any outside point sits > 10·(rounding
    step) beyond the certified candidate, so rounding can never tie them.

    Unresolved probes re-run with the cell size doubled; after
    ``max_rounds`` the (tiny) residual resolves by the broadcast pass —
    row-preserving like the Euclidean twin. Near the poles cos(φ_cap)→0
    collapses the lon bound, so polar data degrades to more rounds (still
    exact, never wrong); the efficient envelope is |lat| ≲ 85°.
    """
    import math

    from ..checkpointing import cut_lineage
    from ..functions.geo import EARTH_RADIUS_KM, haversine_km

    plat, plon = probe_latlon
    klat, klon = known_latlon

    phi_cap_row = (
        probes.agg(F.max(F.abs(F.col(plat))).alias("m"))
        .unionByName(known.agg(F.max(F.abs(F.col(klat))).alias("m")))
        .agg(F.max("m").alias("m"))
        .first()
    )
    phi_cap = float(phi_cap_row["m"] or 0.0)

    def one_round(remaining: DataFrame, h_lat: float):
        n_lon = max(1, int(math.ceil(360.0 / h_lat)))
        h_lon = 360.0 / n_lon
        k = known.select(
            F.col(klat).alias("__klat"),
            F.col(klon).alias("__klon"),
            *[F.col(c).alias(f"__p_{c}") for c in payload_cols],
            *([F.col(tiebreak).alias("__tb")] if tiebreak else []),
        ).withColumns(
            {
                "__krow": F.floor(F.col("__klat") / F.lit(h_lat)).cast("long"),
                "__kcol": F.pmod(
                    F.floor((F.col("__klon") + 180.0) / F.lit(h_lon)), F.lit(n_lon)
                ).cast("long"),
            }
        )
        offsets = F.expr(
            "explode(arrays_zip(array(-1,-1,-1,0,0,0,1,1,1),"
            " array(-1,0,1,-1,0,1,-1,0,1)))"
        )
        k_rep = (
            k.select("*", offsets.alias("__o"))
            .withColumns(
                {
                    "__jrow": F.col("__krow") + F.col("__o.0"),
                    "__jcol": F.pmod(F.col("__kcol") + F.col("__o.1"), F.lit(n_lon)),
                }
            )
            .drop("__o", "__krow", "__kcol")
        )
        # tiny n_lon: neighbor offsets alias the same wrapped cell —
        # dedup so the candidate join doesn't multiply rows
        if n_lon <= 3:
            k_rep = k_rep.dropDuplicates(
                ["__jrow", "__jcol", "__klat", "__klon"]
                + [f"__p_{c}" for c in payload_cols]
            )
        p = remaining.withColumns(
            {
                "__jrow": F.floor(F.col(plat) / F.lit(h_lat)).cast("long"),
                "__jcol": F.pmod(
                    F.floor((F.col(plon) + 180.0) / F.lit(h_lon)), F.lit(n_lon)
                ).cast("long"),
            }
        )
        joined = p.join(k_rep, ["__jrow", "__jcol"], "inner").withColumn(
            "__dtrue",
            haversine_km(F.col(plat), F.col(plon), F.col("__klat"), F.col("__klon")),
        ).withColumn("__d", F.round(F.col("__dtrue"), round_to))
        order = F.struct(
            *([F.col("__d"), F.col("__tb")] if tiebreak else [F.col("__d")])
        )
        pay = F.struct(
            *[F.col(f"__p_{c}") for c in payload_cols],
            F.col("__d"),
            F.col("__dtrue"),
        )
        probe_cols = [c for c in remaining.columns if not c.startswith("__j")]
        cand = (
            joined.groupBy(probe_id)
            .agg(
                F.min_by(pay, order).alias("__best"),
                *[F.first(c).alias(c) for c in probe_cols if c != probe_id],
            )
            .select(
                *probe_cols,
                *[F.col(f"__best.__p_{c}").alias(c) for c in payload_cols],
                F.col("__best.__d").alias(dist_col),
                F.col("__best.__dtrue").alias("__dtrue"),
            )
        )
        r_lat = EARTH_RADIUS_KM * math.radians(h_lat)
        if n_lon <= 3:
            r = r_lat
        else:
            r_lon = (
                2.0
                * EARTH_RADIUS_KM
                * math.asin(
                    math.cos(math.radians(min(phi_cap, 90.0)))
                    * math.sin(math.radians(h_lon) / 2.0)
                )
            )
            r = min(r_lat, r_lon)
        # margin scales with the rounding step (10 × 10^-round_to) so the
        # "rounded ordering exact" certificate holds for ANY round_to, not
        # just the former hardcoded 1e-5 ≡ round_to=6 (r05 advisory): an
        # outside point always sits ≥ 10 rounding steps beyond a certified
        # candidate, so rounding can never tie them
        return cand, r - 10.0 ** (1 - round_to)

    resolved_parts: list[DataFrame] = []
    remaining = probes
    h = cell_deg
    exhausted = True
    for _round in range(max_rounds):
        cand, r = one_round(remaining, h)
        # snapshot cand before fanning out into certified/unresolved/no_cand:
        # without it each branch re-runs the min_by job independently, and
        # with tiebreak=None a rounded-distance tie straddling the certify
        # radius can resolve differently per job — duplicating or dropping
        # a probe and breaking the row-preserving guarantee (r05 advisory)
        cand = cut_lineage(cand)
        certified = cand.filter(F.col("__dtrue") <= F.lit(r)).drop("__dtrue")
        resolved_parts.append(certified)
        unresolved = cand.filter(F.col("__dtrue") > F.lit(r)).select(probe_id)
        no_cand = remaining.join(
            cand.select(probe_id), probe_id, "left_anti"
        ).select(probe_id)
        remaining = cut_lineage(
            remaining.join(
                unresolved.unionByName(no_cand).distinct(), probe_id, "left_semi"
            ),
        )
        h *= 2.0
        if remaining.limit(1).count() == 0:
            exhausted = False
            break
    if exhausted:
        # spread over the cores, as in knn_join_1nn_grid_exact
        par = probes.sparkSession.sparkContext.defaultParallelism
        resolved_parts.append(
            haversine_knn_1nn(
                remaining.repartition(par), known, probe_id,
                probe_latlon, known_latlon,
                payload_cols=payload_cols, dist_col=dist_col,
                tiebreak=tiebreak, round_to=round_to,
            )
        )
    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    return out


def haversine_knn_1nn_auto(
    probes: DataFrame,
    known: DataFrame,
    probe_id: str,
    probe_latlon: tuple[str, str],
    known_latlon: tuple[str, str],
    payload_cols: list[str],
    dist_col: str = "d_km",
    tiebreak: str | None = None,
    round_to: int = 6,
    work_threshold: int = 2_000_000,
    target_per_cell: float = 4.0,
) -> DataFrame:
    """Spherical 1-NN with size-based dispatch — mirrors
    :func:`knn_join_1nn_auto`. |probes|·|known| ≤ ``work_threshold`` →
    broadcast cross (the dimension-sized regime); otherwise the exact
    grid path with the starting cell derived from the known side's
    angular extent (~``target_per_cell`` rows per occupied cell). The
    cell-size guess never affects exactness — only the round count."""
    import math

    n_known = _row_bound(known)
    n_probes = _row_bound(probes)
    small = n_probes * n_known <= work_threshold
    klat, klon = known_latlon
    s = None if small else known.agg(
        F.min(klat).alias("y0"), F.max(klat).alias("y1"),
        F.min(klon).alias("x0"), F.max(klon).alias("x1"),
    ).first()
    # the second test: a footer bound over a known side its filter emptied
    if small or s["x0"] is None or s["y0"] is None:
        return haversine_knn_1nn(
            probes, known, probe_id, probe_latlon, known_latlon,
            payload_cols=payload_cols, dist_col=dist_col,
            tiebreak=tiebreak, round_to=round_to,
        )
    ey = float(s["y1"]) - float(s["y0"])
    ex = float(s["x1"]) - float(s["x0"])
    if ex > 0 and ey > 0:
        cell = math.sqrt(ex * ey * target_per_cell / n_known)
    else:
        extent = max(ex, ey)
        cell = (extent if extent > 0 else 1.0) * target_per_cell / max(n_known, 1)
    cell = max(min(cell, 90.0), 1e-9)
    return haversine_knn_1nn_grid_exact(
        probes, known, probe_id, probe_latlon, known_latlon,
        payload_cols=payload_cols, cell_deg=cell, dist_col=dist_col,
        tiebreak=tiebreak, round_to=round_to,
    )
