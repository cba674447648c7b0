"""REAL-FORMAT CLI input: ``-m obs.metafits --gpubox 'dir/*.fits'`` —
the invocation shape a user of the reference actually has (reference
BirliContext::from_args consumes a metafits plus gpubox files,
src/cli.rs:622-700). The synthetic sf-dir path stays the driver/test
surface; this module assembles the SAME operator chain from the real
observation metadata:

- dims from the metafits TILEDATA (antennas with electrical lengths,
  metafits flag states, /64 digital gains; timesteps from
  GPSTIME/INTTIME/NSCANS),
- the visibility fact from the distributed gpubox scan
  (sources/gpubox.py — one task per coarse-channel file),
- fine-channel frequencies from the receiver channel list
  (centre = rec_chan * 1.28 MHz; fine f = centre - 0.64 MHz +
  fc * fine_width, the mwalib ascending-sky convention),
- geometry from the metafits phase centre through the IAU-2006
  precessed partial-UVW chain (operators/precession.py),
- the Cotter weight factor fine_width/10 kHz * int_time
  (src/flags.rs:570-575).

Scope: the preprocessing flowchart the reference runs by default —
selection, quack/edge/DC/metafits flags, RFI (the float mwa-default
orchestration), cable, digital gains, passband, geometry, baking,
averaging, and every sink. Van Vleck and DI-calibration are accepted
with real inputs too (sample scale derives as int_time x fine_width;
the calsol ratio from the channel counts).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from birli_spark.sources import gpubox, metafits as mf

#: MWA coarse channel width (Hz) — 1.28 MHz, fixed by the instrument
COARSE_WIDTH_HZ = 1_280_000.0
#: Cotter weight normalisation denominator (src/flags.rs:570-575)
WEIGHT_FREQ_HZ = 10_000.0


@dataclass
class ObsMeta:
    """The scalar observation context real-input assembly threads to
    every stage (the role syn's module constants play for the
    synthetic path)."""
    obsid: int
    gps_start: float
    int_time_s: float
    num_t: int
    n_fine_per_coarse: int
    fine_chan_width_hz: float
    coarse_channels: list
    quack_s: float
    phase_ra_deg: float | None
    phase_dec_deg: float | None
    n_ants: int
    #: offline-averaging centre offset (metafits._freq_offset_hz)
    freq_offset_hz: float = 0.0
    #: CHANSEL positions into the full CHANNELS/gains lists (picket
    #: fence); None = full band. Digital gains index by THESE.
    sel_chan_positions: list | None = None

    @property
    def obs_end_gps(self) -> float:
        return self.gps_start + self.num_t * self.int_time_s

    @property
    def weight_factor(self) -> float:
        return (self.fine_chan_width_hz / WEIGHT_FREQ_HZ
                * self.int_time_s)

    @property
    def n_chan_total(self) -> int:
        return self.n_fine_per_coarse * len(self.coarse_channels)


def meta_pointing(metafits_path: str) -> tuple[float, float]:
    """(RA, DEC) of the metafits POINTING centre (the RA/DEC keys, vs
    the RAPHASE/DECPHASE phase centre) — the --pointing-centre target."""
    primary, _ = mf.read_metafits(metafits_path)
    octx = mf.obs_context(primary)
    if octx["pointing_ra_deg"] is None or octx["pointing_dec_deg"] is None:
        raise SystemExit(
            f"--pointing-centre: metafits {metafits_path} carries no "
            "RA/DEC pointing keys")
    return (float(octx["pointing_ra_deg"]),
            float(octx["pointing_dec_deg"]))


def load_obs(metafits_path: str) -> tuple[ObsMeta, dict]:
    primary, tiledata = mf.read_metafits(metafits_path)
    octx = mf.obs_context(primary)
    meta = ObsMeta(
        obsid=octx["obsid"], gps_start=float(octx["obsid"]),
        int_time_s=octx["int_time_s"], num_t=octx["n_scans"],
        n_fine_per_coarse=octx["n_fine_per_coarse"],
        fine_chan_width_hz=octx["fine_chan_width_hz"],
        coarse_channels=octx["coarse_channels"],
        quack_s=octx["quack_s"],
        phase_ra_deg=octx["phase_ra_deg"],
        phase_dec_deg=octx["phase_dec_deg"],
        n_ants=octx["n_ants"],
        freq_offset_hz=octx.get("freq_offset_hz", 0.0),
        sel_chan_positions=mf.selected_channel_positions(primary))
    return meta, tiledata


def freq_expr(meta: ObsMeta) -> str:
    """Fine-channel sky frequency from (cc, fc): the cc-th SELECTED
    coarse channel's centre minus half the coarse width plus
    fc x fine_width — a CASE over the (small) coarse list so the
    expression stays a pure projection."""
    arms = " ".join(
        f"WHEN cc = {i} THEN CAST({ch * COARSE_WIDTH_HZ!r} AS DOUBLE)"
        for i, ch in enumerate(meta.coarse_channels))
    centre = f"(CASE {arms} END)"
    return (f"({centre} - CAST({COARSE_WIDTH_HZ / 2.0!r} AS DOUBLE)"
            f" + fc * CAST({meta.fine_chan_width_hz!r} AS DOUBLE)"
            f" + CAST({meta.freq_offset_hz!r} AS DOUBLE))")


def detect_format(gpubox_glob: str) -> str:
    """'mwax' (..._chNNN_BBB.fits), 'legacy' (..._gpuboxNN_BB.fits) or
    'synthetic' (this repo's teaching format) by filename shape."""
    import re as _re
    name = gpubox.resolve_paths(gpubox_glob)[0]
    if _re.search(r"_ch\d+_\d+\.fits$", name):
        return "mwax"
    if _re.search(r"gpubox\d+_\d+\.fits$", name):
        return "legacy"
    return "synthetic"


def _finish_vis(scan: DataFrame, meta: ObsMeta,
                offset_s: float = 0.0) -> DataFrame:
    """Project a (t, ant1, ant2, bl, cc, fc, chan, pols) scan onto the
    19-column canonical vis relation. ``offset_s`` shifts the stamped
    centroids onto the data grid (see :func:`data_offset_s`)."""
    ts = (f"CAST({meta.gps_start + offset_s!r} AS DOUBLE)"
          f" + t * CAST({meta.int_time_s!r} AS DOUBLE)"
          f" + CAST({meta.int_time_s / 2.0!r} AS DOUBLE)")
    return scan.select(
        "t", "ant1", "ant2", "bl", "cc", "fc", "chan",
        F.expr(freq_expr(meta)).alias("freq_hz"),
        F.expr(ts).alias("ts_gps"),
        F.lit(float(meta.weight_factor)).cast("double").alias("weight"),
        F.lit(False).alias("flag"),
        "xx_re", "xx_im", "xy_re", "xy_im",
        "yx_re", "yx_im", "yy_re", "yy_im")


def _with_global_t(scan: DataFrame, int_time_ms: int,
                   obs_start_unix_ms: int) -> DataFrame:
    """Global timestep index anchored at the observation's SCHEDULED
    start (metafits GPSTIME, leap-corrected to unix) — NOT at the
    minimum captured time: real captures routinely begin one or more
    scans after the obsid (e.g. the reference's own 1196175296 data
    starts 2 s late), and an anchor at min(unix_ms) would misstamp
    ts_gps and misalign the quack window. The reference's
    metafits/gpubox timestep map serves the same role.

    A pure projection (no aggregate, no shuffle); each row asserts its
    index is not BEFORE the scheduled start, so a header/metafits clock
    mismatch fails loudly instead of silently shifting flags. Indices
    MAY exceed the metafits NSCANS: real captures can outrun the
    scheduled window (the reference's own 1297526432/1196175296
    fixtures do), and the reference's gpubox-derived timestep map
    likewise extends past it."""
    t = F.expr(
        f"CAST((unix_ms - {obs_start_unix_ms}L) DIV {int_time_ms} AS INT)")
    guard = F.when(t >= 0, t).otherwise(F.raise_error(F.concat(
        F.lit("gpubox scan time before the metafits obs start: "
              "unix_ms="), F.col("unix_ms").cast("string"),
        F.lit(f", obs start unix_ms={obs_start_unix_ms}, "
              f"int_time_ms={int_time_ms}"))))
    return scan.withColumn("t", guard).drop("unix_ms")


import functools


@functools.lru_cache(maxsize=64)
def gpubox_header_meta(gpubox_glob: str) -> dict:
    """{'min_ms', 'max_ms', 'bscale'} across the gpubox files — a
    driver-side header-only walk (seek past data units; no payload
    reads), the role mwalib's metafits/gpubox timestep map plays in the
    reference. File-count bounded, cached per glob; at production scale
    this is one metadata pass, same as the reference's context
    construction. ``bscale`` is the scan-image BSCALE (the reference's
    Van Vleck scale multiplies by it, src/van_vleck.rs:318-329)."""
    from birli_spark.sources import fitscore as fc
    min_ms = None
    max_ms = None
    bscale = None
    for path in gpubox.resolve_paths(gpubox_glob):
        with open(path, "rb") as f:
            raw = f.read(fc.BLOCK)
            # walk header-by-header: parse each header unit (possibly
            # several blocks), then seek past its data unit
            pos = 0
            buf = raw
            while True:
                # ensure the whole header unit is in buf
                hdr = None
                while hdr is None:
                    try:
                        hdr, hend = fc.parse_header(buf, 0)
                    except ValueError:
                        more = f.read(fc.BLOCK * 8)
                        if not more:
                            break
                        buf += more
                if hdr is None:
                    break
                # SCAN HDUs only (extensions): the scan readers skip
                # the primary HDU, whose TIME card — when present —
                # may be a file-creation stamp, not a scan time
                if "TIME" in hdr and "XTENSION" in hdr:
                    t_ms = (int(hdr["TIME"]) * 1000
                            + int(hdr.get("MILLITIM", 0) or 0))
                    if max_ms is None or t_ms > max_ms:
                        max_ms = t_ms
                    if min_ms is None or t_ms < min_ms:
                        min_ms = t_ms
                    if bscale is None and "BSCALE" in hdr:
                        bscale = float(hdr["BSCALE"])
                data_end = fc.skip_data(hend, hdr)
                f.seek(pos + data_end)
                pos += data_end
                buf = f.read(fc.BLOCK)
                if not buf:
                    break
    if min_ms is None:
        raise FileNotFoundError(
            f"no gpubox scan HDUs found under {gpubox_glob!r}")
    return {"min_ms": min_ms, "max_ms": max_ms,
            "bscale": 1.0 if bscale is None else bscale}


def data_time_range(gpubox_glob: str) -> tuple[int, int]:
    m = gpubox_header_meta(gpubox_glob)
    return m["min_ms"], m["max_ms"]


def data_num_t(gpubox_glob: str, obs_start_unix_ms: int,
               int_time_ms: int, num_t_scheduled: int) -> int:
    """Timestep count covering BOTH the scheduled window and every scan
    actually captured. Real captures can outrun the scheduled NSCANS
    (the reference's own 1196175296 fixture does), and the per-(t, ant)
    UVW table must cover the data or the geometry join would silently
    drop those scans."""
    _, max_ms = data_time_range(gpubox_glob)
    if max_ms < obs_start_unix_ms:
        return num_t_scheduled
    t_last = (max_ms - obs_start_unix_ms) // int_time_ms
    return max(num_t_scheduled, int(t_last) + 1)


def data_offset_s(gpubox_glob: str, obs_start_unix_ms: int,
                  int_time_ms: int) -> float:
    """Sub-scan offset of the DATA grid from the scheduled grid, in
    seconds: real archives can start mid-scan relative to the obsid
    (the reference's 1254670392_avg scans start at obsid+1 s with a 2 s
    integration — witnessed independently by the Cotter and pyuvdata
    golden dumps, whose DATE params are centroids at obsid+2/+4). The
    timestep INDEX still floors onto the scheduled grid; this offset
    shifts every stamped time (ts_gps, the UVW table, the UVFITS DATE
    params) onto the true scan centroids."""
    min_ms, _ = data_time_range(gpubox_glob)
    if min_ms < obs_start_unix_ms:
        raise ValueError(
            f"gpubox data starts before the metafits obs start: "
            f"{min_ms} < {obs_start_unix_ms}")
    return ((min_ms - obs_start_unix_ms) % int_time_ms) / 1000.0


def grid_anchor(gpubox_glob: str, gps_start: float, int_time_s: float,
                num_t_scheduled: int = 0) -> dict:
    """ONE derivation of the real-mode time-grid anchor, shared by the
    vis load, the UVW table, every sink, and the CLI: format detection,
    the GPS-UTC leap offset at the obs epoch, the sub-scan data-grid
    offset, the data-covering timestep count, and the gpubox BSCALE.
    Synthetic-format inputs (whose HDUs carry no TIME scan cards)
    anchor on the schedule with zero offset and BSCALE 1."""
    from birli_spark.functions import timeutil
    fmt = detect_format(gpubox_glob)
    start_ms = int(round(timeutil.gps_to_unix_s(gps_start) * 1000))
    int_ms = int(round(int_time_s * 1000))
    out = {"fmt": fmt,
           "leap_s": timeutil.gps_utc_offset_s(gps_start),
           "start_unix_ms": start_ms, "int_ms": int_ms,
           "offset_s": 0.0, "num_t_data": num_t_scheduled,
           "bscale": 1.0}
    if fmt in ("mwax", "legacy"):
        out["offset_s"] = data_offset_s(gpubox_glob, start_ms, int_ms)
        out["num_t_data"] = data_num_t(gpubox_glob, start_ms, int_ms,
                                       num_t_scheduled)
        out["bscale"] = gpubox_header_meta(gpubox_glob)["bscale"]
    return out


def load_vis_real(spark: SparkSession, meta: ObsMeta,
                  gpubox_glob: str, metafits_path: str | None = None,
                  fmt: str = "auto",
                  anchor: dict | None = None) -> DataFrame:
    """The canonical vis relation from real gpubox files of any
    supported format. ``anchor`` reuses a grid_anchor already derived
    by the caller (it scans the gpubox headers)."""
    if anchor is None:
        anchor = grid_anchor(gpubox_glob, meta.gps_start,
                             meta.int_time_s, meta.num_t)
    if fmt == "auto":
        fmt = anchor["fmt"]
    nf = meta.n_fine_per_coarse
    start_ms = anchor["start_unix_ms"]
    offset_s = anchor["offset_s"]
    if fmt == "mwax":
        scan = gpubox.read_mwax_gpubox(spark, gpubox_glob).drop("t")
        scan = _with_global_t(scan, int(round(meta.int_time_s * 1000)),
                              start_ms)
        cc_arms = " ".join(
            f"WHEN cc_recv = {ch} THEN {i}"
            for i, ch in enumerate(meta.coarse_channels))
        scan = (scan.withColumn("cc",
                                F.expr(f"CAST(CASE {cc_arms} END AS INT)"))
                .withColumn("chan", F.expr(f"CAST(cc * {nf} + fc AS INT)"))
                .drop("cc_recv", "w_xx", "w_xy", "w_yx", "w_yy"))
    elif fmt == "legacy":
        from birli_spark.sources import legacy_gpubox
        scan = legacy_gpubox.read_legacy_gpubox(spark, gpubox_glob,
                                                metafits_path)
        scan = _with_global_t(scan, int(round(meta.int_time_s * 1000)),
                              start_ms)
        scan = (scan.withColumn("cc", F.expr(f"CAST(chan DIV {nf} AS INT)"))
                .drop("gpubox"))
    else:
        scan = gpubox.read_gpubox(spark, gpubox_glob)
    return _finish_vis(scan, meta, offset_s=offset_s)


def build_baked_real(spark: SparkSession, ctx, metafits_path: str,
                     gpubox_glob: str) -> tuple[DataFrame, ObsMeta]:
    """The context-built pipeline over REAL inputs, up to flag->weight
    baking — the real-format mirror of cli.build_baked with dims from
    the metafits instead of the synthetic tables."""
    from birli_spark import pipeline
    from birli_spark.operators import (corrections, flags, selection,
                                       weights)

    meta, tiledata = load_obs(metafits_path)
    # ONE grid anchor for the whole build (vis load, timestep dim,
    # UVW table): it scans the gpubox headers, and every consumer must
    # agree on the data-grid offset and captured-scan count anyway
    anchor = grid_anchor(gpubox_glob, meta.gps_start, meta.int_time_s,
                         meta.num_t)
    vis = load_vis_real(spark, meta, gpubox_glob,
                        metafits_path=metafits_path, anchor=anchor)
    ants = mf.antennas_df(spark, tiledata)

    if ctx.sel_time:
        vis = selection.select_ranges(vis, t_min=ctx.sel_time[0],
                                      t_max=ctx.sel_time[1] + 1)
    if ctx.sel_chan_ranges:
        from birli_spark.operators import picket
        ccs = [cc for lo, hi in picket.parse_ranges(ctx.sel_chan_ranges)
               for cc in range(lo, hi + 1)]
        vis = vis.filter(F.col("cc").isin(ccs))
    if ctx.sel_ants:
        vis = selection.retain_antennas(vis, tuple(ctx.sel_ants))
    if ctx.no_sel_flagged_ants:
        vis = selection.filter_antennas(
            vis, ants.filter(F.col("flagged")))
    if ctx.no_sel_autos:
        vis = selection.filter_autos(vis)

    # the timestep flag dim must cover every CAPTURED scan: a capture
    # that outruns the schedule (the reference's 1196175296 fixture
    # does) still needs ts-level flags for t >= the scheduled NSCANS
    # (set_flags left-joins, so missing dim rows silently unflag)
    n_t_all = max(meta.num_t, anchor["num_t_data"])
    ts = mf.timesteps_df(spark, {"NSCANS": n_t_all,
                                 "GPSTIME": meta.gps_start,
                                 "INTTIME": meta.int_time_s})
    # None = the metafits QUACKTIM default; an explicit --quack-time 0
    # DISABLES quack (reference --flag-init semantics). Steps variants
    # convert with THIS observation's int_time (reference converts
    # N steps to N * int_time seconds, src/cli.rs:1141-1146).
    if ctx.flag_init_steps is not None:
        quack = ctx.flag_init_steps * meta.int_time_s
    elif ctx.quack_time is not None:
        quack = ctx.quack_time
    else:
        quack = meta.quack_s
    flag_end_s = (ctx.flag_end_steps * meta.int_time_s
                  if ctx.flag_end_steps is not None else ctx.flag_end)
    # end flags anchor at the end of the DATA (the reference flags the
    # trailing timesteps of the actual capture), which equals the
    # scheduled end except when the capture outran the schedule
    ts_f = flags.flag_timesteps_quack(
        ts, meta.gps_start,
        meta.gps_start + n_t_all * meta.int_time_s, quack_s=quack,
        flag_end_s=flag_end_s)
    if ctx.flag_times:
        ts_f = ts_f.withColumn(
            "ts_flag", F.col("ts_flag") | F.col("t").isin(ctx.flag_times))
    ants_f = ants
    if ctx.no_flag_metafits:
        ants_f = ants_f.withColumn("flagged", F.lit(False))
    if ctx.flag_antennas:
        ants_f = ants_f.withColumn(
            "flagged",
            F.col("flagged") | F.col("ant").isin(ctx.flag_antennas))
    bl_f = flags.baseline_flags(ants_f, flag_autos=ctx.flag_autos)
    fc_pred = flags.flag_fine_channels(
        meta.n_fine_per_coarse, n_edge=ctx.flag_edge_chans,
        is_legacy=ctx.flag_dc,
        explicit_fcs=tuple(ctx.flag_fine_chans))
    if ctx.flag_coarse_chans:
        fc_pred = fc_pred | F.col("cc").isin(list(ctx.flag_coarse_chans))
    vis = flags.set_flags(vis, ts_f, bl_f, fc_pred)

    # v0.18 unflagged-range gate (t, cc, _caf) from the RULE DIMS, not
    # an aggregate over the fact: before RFI, flag is the star-schema
    # disjunction ts | bl | fc over separable axes, so
    #   bool_and(flag) over (bl, fc) = ts_flag OR bool_and(bl_flag)
    #                                  OR bool_and(fc_flag within cc),
    # with the baseline pool restricted to the SELECTED baselines. The
    # generic cell_gate(vis) re-aggregates the fact — free on a
    # columnar parquet fact (column-pruned rescan) but a SECOND FULL
    # DECODE of the archive here, where the scan is a binary
    # mapInPandas with no column pruning (measured: it doubled the
    # scale-e2e read cost).
    sel_bl = bl_f
    # ONE shared predicate with the vis-side selection above
    # (selection.baseline_selection_predicate): the gate pool and the
    # fact filter must agree or the gate diverges from the fact's
    # actual flag aggregate (ADVICE r7)
    flagged_set = ([r["ant"] for r in
                    ants.filter(F.col("flagged")).collect()]
                   if ctx.no_sel_flagged_ants else None)
    bl_pred = selection.baseline_selection_predicate(
        ctx.sel_ants, flagged_set, ctx.no_sel_autos)
    if bl_pred is not None:
        sel_bl = sel_bl.filter(bl_pred)
    all_bl = sel_bl.agg(F.expr("bool_and(bl_flag)").alias("_all_bl"))
    n_cc_sel = len(meta.coarse_channels)
    fc_grid = spark.range(0, n_cc_sel, 1, 1).selectExpr(
        "CAST(id AS INT) AS cc").crossJoin(
        spark.range(0, meta.n_fine_per_coarse, 1, 1).selectExpr(
            "CAST(id AS INT) AS fc"))
    cc_all = (fc_grid.select("cc", fc_pred.alias("_fcf"))
              .groupBy("cc").agg(F.expr("bool_and(_fcf)").alias("_all_fc")))
    gate = (ts_f.select("t", "ts_flag").crossJoin(F.broadcast(cc_all))
            .crossJoin(F.broadcast(all_bl))
            .select("t", "cc",
                    (F.col("ts_flag") | F.coalesce(F.col("_all_bl"),
                                                   F.lit(True))
                     | F.col("_all_fc")).alias(corrections.GATE_COL)))
    vis = corrections.attach_cell_gate(vis, gate=gate)
    if ctx.van_vleck:
        from birli_spark.operators import vanvleck
        # the reference's scale: fine_width_hz * int_time_ms / 500 *
        # gpubox BSCALE (src/van_vleck.rs:318-329, get_vv_sample_scale)
        bscale = grid_anchor(gpubox_glob, meta.gps_start,
                             meta.int_time_s, meta.num_t)["bscale"]
        scale = (meta.fine_chan_width_hz
                 * (meta.int_time_s * 1000.0) / 500.0 * bscale)
        vis = vanvleck.correct_van_vleck(
            vis, scale, flagged_ants=ctx.flag_antennas or None,
            gate_col=corrections.GATE_COL)
    if not ctx.no_cable_delay:
        vis = corrections.correct_cable_lengths(vis, ants, gated=True)
    if not ctx.no_digital_gains:
        # the vis cc indexes the CHANSEL-selected coarse list — the
        # gains dim must be remapped to the same positions (picket)
        vis = corrections.correct_digital_gains(
            vis, mf.digital_gains_df(
                spark, tiledata,
                sel_positions=meta.sel_chan_positions), gated=True)
    if ctx.pfb_gains and ctx.pfb_gains != "none":
        from birli_spark.functions import pfb_tables as PT
        table = {"cotter": PT.PFB_COTTER_2014_10KHZ,
                 "jake": PT.PFB_JAKE_2022_200HZ,
                 "jake_oversampled": PT.OSPFB_JAKE_2025_200HZ}[
                     ctx.pfb_gains]
        rows = corrections.fine_gain_rows(
            table, meta.n_fine_per_coarse,
            center_symmetric=ctx.pfb_gains != "cotter")
        fine_gains = spark.createDataFrame(rows, "fc int, gain double")
        vis = corrections.correct_passband_gains(vis, fine_gains,
                                                 gated=True)
    vis = vis.drop(corrections.GATE_COL)

    if not ctx.no_rfi:
        from birli_spark.operators import rfi
        if ctx.ssins:
            from birli_spark.operators import ssins as ssins_op
            vis = ssins_op.ssins_flag_vis(vis,
                                          threshold=ctx.ssins_threshold)
        elif ctx.rfi_strategy == "generic" or ctx.rfi_iterative:
            vis = rfi.flag_rfi_strategy(
                vis, base_sensitivity=ctx.rfi_sensitivity,
                eta=ctx.sir_eta if ctx.sir_eta is not None else 0.2)
        else:
            # Scale lever (r8): the island's exchange + sort + Arrow
            # boundary carries ONLY what the flagger consumes — the
            # (t, chan, ant1, ant2, bl) keys, the prior flag, and the
            # 8 pol payloads at f32 — instead of the full 19-column
            # f64 row. The f32 cast is lossless here by construction:
            # every upstream correction f32-demotes its outputs
            # (functions.complex.f32, the reference's own per-operator
            # demotion) and the raw archive payloads are f32-native.
            # freq_hz / ts_gps / weight / cc / fc are pure functions
            # of (chan, t) and come back as JVM projections after the
            # island — measured >2x less shuffled+sorted+transferred
            # bytes on the 11.4 GB scale run.
            from birli_spark.functions.complex import VIS_COLS
            slim = vis.select(
                "t", "chan", "ant1", "ant2", "bl", "flag",
                *[F.col(c).cast("float").alias(c) for c in VIS_COLS])
            flagged = rfi.flag_rfi_mwa(
                slim, base_sensitivity=ctx.rfi_sensitivity,
                eta=ctx.sir_eta if ctx.sir_eta is not None else 0.2)
            nf = meta.n_fine_per_coarse
            ts = (f"CAST({meta.gps_start + anchor['offset_s']!r}"
                  f" AS DOUBLE)"
                  f" + t * CAST({meta.int_time_s!r} AS DOUBLE)"
                  f" + CAST({meta.int_time_s / 2.0!r} AS DOUBLE)")
            widened = flagged.select(
                "t",
                F.expr(f"CAST(chan DIV {nf} AS INT)").alias("cc"),
                "ant1", "ant2", "bl",
                F.expr(f"CAST(chan % {nf} AS INT)").alias("fc"),
                "chan", "flag",
                *[F.col(c).cast("double").alias(c) for c in VIS_COLS])
            vis = widened.select(
                "t", "ant1", "ant2", "bl", "cc", "fc", "chan",
                F.expr(freq_expr(meta)).alias("freq_hz"),
                F.expr(ts).alias("ts_gps"),
                F.lit(float(meta.weight_factor)).cast("double")
                 .alias("weight"),
                "flag", *VIS_COLS)

    # phase centre precedence (reference src/cli.rs:1353 / RADec
    # plumbing): explicit --phase-centre > --pointing-centre (the
    # metafits RA/DEC pointing) > the metafits RAPHASE/DECPHASE
    if ctx.phase_centre:
        ra_deg, dec_deg = float(ctx.phase_centre[0]), float(
            ctx.phase_centre[1])
    elif ctx.pointing_centre:
        ra_deg, dec_deg = meta_pointing(metafits_path)
    elif meta.phase_ra_deg is not None:
        ra_deg, dec_deg = (float(meta.phase_ra_deg),
                           float(meta.phase_dec_deg))
    else:
        ra_deg = None
    if ra_deg is not None:
        from birli_spark.functions import textsql as X
        from birli_spark.operators import precession as prc
        ants.createOrReplaceTempView("real_antennas")
        # the UVW table must span every CAPTURED scan, not just the
        # scheduled NSCANS, and its times must sit on the DATA grid
        # (grid_anchor — zero offset for synthetic-format inputs)
        n_t_uvw = anchor["num_t_data"]
        off_s = anchor["offset_s"]
        part_uvw = spark.sql(prc.part_uvw_precessed_sql(
            X.SPARK, ra_rad=math.radians(ra_deg),
            dec_rad=math.radians(dec_deg),
            gps_start=float(meta.gps_start) + off_s,
            int_time_s=meta.int_time_s, num_t=n_t_uvw,
            antennas="real_antennas", dut1_s=ctx.dut1,
            lon_rad=prc.MWA_LON_RAD, lat_rad=prc.MWA_LAT_RAD))
        if ctx.no_geometric_delay:
            # UVW group params are always computed and written; the
            # flag gates only the phase rotation (reference cli.rs:
            # the nocorrect tests compare real UVWs in 'none' output)
            vis = corrections.attach_uvw(vis, part_uvw)
        else:
            vis = corrections.correct_geometry(vis, part_uvw)

    if ctx.apply_di_cal:
        from birli_spark.operators import calibration
        from birli_spark.sources import aocal
        calsols = aocal.calsols_df(spark, ctx.apply_di_cal)
        n_sol = calsols.select("chan").distinct().count()
        ratio = max(1, meta.n_chan_total // max(1, n_sol))
        vis = calibration.apply_di_calsol(vis, calsols, ratio)

    return weights.bake_flags_into_weights(vis), meta
