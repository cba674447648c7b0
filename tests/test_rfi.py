"""SumThreshold RFI tests mirroring the reference's synthetic-spike
AOFlagger tests (src/flags.rs:808-878): a single huge value in one
baseline's image is flagged there and nowhere else."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from birli_spark import pipeline
from birli_spark.functions.complex import VIS_COLS
from birli_spark.operators import rfi, rfi_sql
from birli_spark.operators.rfi import flag_rfi, sumthreshold_mask
from birli_spark.sources import synthetic as syn


def test_single_spike_mask():
    rng = np.random.default_rng(42)
    img = rng.normal(10.0, 1.0, size=(64, 64))
    img[32, 32] = 0xFFFFFF
    mask = sumthreshold_mask(img)
    assert mask[32, 32]
    assert mask.sum() < 20  # no blanket flagging of noise


def test_broadband_burst_flagged_across_channels():
    rng = np.random.default_rng(7)
    img = rng.normal(10.0, 1.0, size=(64, 64))
    img[20, :] += 50.0  # one timestep lit across the whole band
    mask = sumthreshold_mask(img)
    assert mask[20, :].mean() > 0.9
    assert mask[~np.isin(np.arange(64), [20])].mean() < 0.05


def test_narrowband_persistent_flagged_across_time():
    rng = np.random.default_rng(3)
    img = rng.normal(10.0, 1.0, size=(64, 64))
    img[:, 5] += 8.0  # persistent moderate narrowband — needs windowed sums
    mask = sumthreshold_mask(img)
    assert mask[:, 5].mean() > 0.9


def test_flat_image_unflagged():
    img = np.full((16, 16), 3.0)
    assert not sumthreshold_mask(img).any()


def test_sparse_image_sigma_from_present_cells_only():
    # Half the grid has no samples (placeholder 0.0). If those zeros
    # leaked into the median/MAD the sigma would be wildly inflated by
    # the bimodal {0, ~10} distribution — and with mostly-absent rows
    # deflated medians over-flag ordinary samples.
    rng = np.random.default_rng(11)
    img = np.zeros((64, 64))
    valid = np.zeros((64, 64), dtype=bool)
    valid[:, ::2] = True  # only even channels sampled
    img[valid] = rng.normal(10.0, 1.0, size=valid.sum())
    img[32, 32] = 1e6  # one genuine spike (chan 32 is sampled)
    mask = sumthreshold_mask(img, valid=valid)
    assert mask[32, 32]
    assert not mask[~valid].any()          # absent cells never flagged
    assert mask.sum() < 20                 # ordinary samples survive
    # and the degenerate empty image returns the prior untouched
    none = sumthreshold_mask(np.zeros((4, 4)),
                             valid=np.zeros((4, 4), dtype=bool))
    assert not none.any()


def test_spark_operator_minimal(spark):
    """Relational analogue of reference test_flag_jones_array_minimal
    (src/flags.rs:808-846): spike at (t=32, chan=32) on baseline (0,1);
    baseline (0,0) clean."""
    rng = np.random.default_rng(1)
    rows = []
    for (a1, a2) in [(0, 0), (0, 1)]:
        for t in range(64):
            for chan in range(64):
                spike = a1 == 0 and a2 == 1 and t == 32 and chan == 32
                v = float(0xFFFFFF) if spike else float(rng.normal(10.0, 1.0))
                rows.append(Row(t=t, ant1=a1, ant2=a2, chan=chan,
                                xx_re=v, xx_im=0.0, xy_re=0.0, xy_im=0.0,
                                yx_re=0.0, yx_im=0.0, yy_re=v, yy_im=0.0,
                                weight=8.0, flag=False))
    vis = spark.createDataFrame(rows)
    out = flag_rfi(vis).toPandas()
    spiked = out[(out.ant1 == 0) & (out.ant2 == 1) & (out.t == 32) & (out.chan == 32)]
    assert spiked["flag"].all()
    clean_bl = out[(out.ant1 == 0) & (out.ant2 == 0)]
    assert clean_bl["flag"].mean() < 0.02
    other = out[(out.ant1 == 0) & (out.ant2 == 1)]
    assert other["flag"].mean() < 0.02


def test_existing_flags_preserved(spark):
    """Detection ORs with prior flags (the reference's
    re_apply_existing, src/flags.rs:414-418)."""
    rows = [Row(t=t, ant1=0, ant2=1, chan=c,
                xx_re=1.0, xx_im=0.0, xy_re=0.0, xy_im=0.0,
                yx_re=0.0, yx_im=0.0, yy_re=1.0, yy_im=0.0,
                weight=8.0, flag=(t == 0 and c == 0))
            for t in range(8) for c in range(8)]
    vis = spark.createDataFrame(rows)
    out = flag_rfi(vis).toPandas()
    assert out[(out.t == 0) & (out.chan == 0)]["flag"].all()


# ---------------------------------------------- island equivalence ---

def _stokes_i_rows(g):
    """Stokes-I amplitude per row, summed in the columns' own dtype."""
    re = (g["xx_re"].to_numpy() + g["yy_re"].to_numpy()) / 2.0
    im = (g["xx_im"].to_numpy() + g["yy_im"].to_numpy()) / 2.0
    return np.hypot(re, im)


def _ref_flag_rfi(grid, present, prior, chans):
    return rfi.sumthreshold_mask(grid(_stokes_i_rows), 6.0,
                                 existing=prior, valid=present)


def _ref_flag_rfi_strategy(grid, present, prior, chans):
    return rfi.aoflagger_strategy_mask(grid(_stokes_i_rows), 6.0,
                                       existing=prior, valid=present,
                                       eta=0.2)


def _ref_flag_rfi_mwa(grid, present, prior, chans):
    imgs = {p: grid(lambda g, p=p: np.hypot(
        g[f"{p}_re"].to_numpy(dtype=np.float64),
        g[f"{p}_im"].to_numpy(dtype=np.float64))) for p in rfi.MWA_POLS}
    return rfi.mwa_strategy_mask_pols_float(
        imgs, existing=prior, valid=present, eta=0.2, chan_values=chans,
        **rfi.MWA_FLOAT_KW)


@pytest.fixture(scope="module")
def rule_flagged_cells(spark, sf_dir):
    """The sf0.001 rule-flagged fact, one row per (bl, t, chan) — the
    f9 queries' shared input (__spark_entry__._rfi_cell_view)."""
    vis = pipeline.rule_flags(spark, syn.load_vis(spark, sf_dir))
    vis.createOrReplaceTempView("t_island_flagged")
    return spark.sql(rfi_sql.cell_dedup_select(
        "t_island_flagged", tuple(vis.columns))).localCheckpoint(eager=True)


_REFERENCE_MASKS = {"flag_rfi": _ref_flag_rfi,
                    "flag_rfi_strategy": _ref_flag_rfi_strategy,
                    "flag_rfi_mwa": _ref_flag_rfi_mwa}


@pytest.mark.parametrize("dtype", ["double", "float"])
@pytest.mark.parametrize("island", sorted(_REFERENCE_MASKS))
def test_island_matches_driver_side_mask(spark, rule_flagged_cells,
                                         island, dtype):
    """Each Spark island's output flag equals its numpy mask function
    run driver-side on the same dense (t, chan) grid, ORed with the
    prior flag — per baseline, every row, other columns untouched. The
    grid here is a pandas pivot (absent cells NaN), independent of the
    island's rank scatter; ``float`` runs the CLI's f32 payload."""
    cells = rule_flagged_cells.select(*[
        F.col(c).cast(dtype).alias(c) if c in VIS_COLS else c
        for c in rule_flagged_cells.columns])
    key = ["ant1", "ant2", "t", "chan"]
    src = cells.toPandas().sort_values(key).reset_index(drop=True)
    out = (getattr(rfi, island)(cells).toPandas()
           .sort_values(key).reset_index(drop=True))
    assert len(out) == len(src) > 0
    pd.testing.assert_frame_equal(out.drop(columns="flag"),
                                  src.drop(columns="flag"))
    want = []
    for _, g in src.groupby(["ant1", "ant2"], sort=True):
        def grid(rowfn, g=g):
            vals = g.assign(v=rowfn(g)).pivot(index="t", columns="chan",
                                               values="v")
            return vals.to_numpy(dtype=np.float64, na_value=0.0)

        cube = g.pivot(index="t", columns="chan", values="flag")
        present = cube.notna().to_numpy()
        prior = cube.eq(True).to_numpy()
        mask = _REFERENCE_MASKS[island](grid, present, prior,
                                        cube.columns.to_numpy())
        ti = cube.index.get_indexer(g["t"])
        ci = cube.columns.get_indexer(g["chan"])
        want.append(g["flag"].to_numpy(dtype=bool) | mask[ti, ci])
    assert (out["flag"].to_numpy() == np.concatenate(want)).all()
