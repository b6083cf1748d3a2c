"""Stats-as-aggregation vs independent numpy computation + tail functions
vs known table values."""

import math

import numpy as np
import pytest

from isen_projet_bigdata_a3s6_spark.sources.readers import load_table
from isen_projet_bigdata_a3s6_spark.stats.distributions import (
    betainc,
    chi2_sf,
    f_sf,
    t_sf,
)
from isen_projet_bigdata_a3s6_spark.stats.inference import (
    anova_oneway_df,
    chi_square_df,
)
from isen_projet_bigdata_a3s6_spark.stats.regression import simple_ols_df


def test_chi2_sf_known_values():
    # classic critical values
    assert abs(chi2_sf(3.841, 1) - 0.05) < 1e-3
    assert abs(chi2_sf(5.991, 2) - 0.05) < 1e-3
    assert abs(chi2_sf(0.0, 3) - 1.0) < 1e-12


def test_f_sf_known_values():
    assert abs(f_sf(161.45, 1, 1) - 0.05) < 1e-3
    assert abs(f_sf(4.26, 2, 9) - 0.05) < 2e-3


def test_t_sf_known_values():
    assert abs(t_sf(1.96, 10000) - 0.025) < 1e-3
    assert abs(t_sf(0.0, 5) - 0.5) < 1e-12


def test_betainc_symmetry():
    assert abs(betainc(2.0, 3.0, 0.4) + betainc(3.0, 2.0, 0.6) - 1.0) < 1e-12


def test_simple_ols_vs_numpy(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    row = simple_ols_df(li, "l_extendedprice", "l_quantity").collect()[0]
    pdf = li.select("l_quantity", "l_extendedprice").toPandas()
    slope, intercept = np.polyfit(pdf.l_quantity, pdf.l_extendedprice, 1)
    assert abs(row["slope"] - slope) < 1e-4
    assert abs(row["intercept"] - intercept) < 1e-2


def test_anova_vs_numpy(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    out = anova_oneway_df(li, "l_quantity", "l_returnflag").collect()[0]
    pdf = li.select("l_returnflag", "l_quantity").toPandas()
    groups = [g["l_quantity"].to_numpy() for _, g in pdf.groupby("l_returnflag")]
    all_v = pdf["l_quantity"].to_numpy()
    ssb = sum(len(g) * (g.mean() - all_v.mean()) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f = (ssb / (len(groups) - 1)) / (ssw / (len(all_v) - len(groups)))
    assert abs(out["f_stat"] - f) < 1e-4
    assert out["df_between"] == len(groups) - 1
    assert out["df_within"] == len(all_v) - len(groups)
    assert 0.0 <= f_sf(out["f_stat"], out["df_between"], out["df_within"]) <= 1.0


def test_chi_square_vs_numpy(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    out = chi_square_df(li, "l_returnflag", "l_linestatus").collect()[0]
    pdf = li.select("l_returnflag", "l_linestatus").toPandas()
    ct = pdf.groupby(["l_returnflag", "l_linestatus"]).size().unstack(fill_value=0)
    obs = ct.to_numpy().astype(float)
    row_tot = obs.sum(axis=1, keepdims=True)
    col_tot = obs.sum(axis=0, keepdims=True)
    exp = row_tot @ col_tot / obs.sum()
    chi2 = ((obs - exp) ** 2 / exp).sum()
    assert abs(out["chi2"] - chi2) < 1e-4
    assert out["dof"] == (obs.shape[0] - 1) * (obs.shape[1] - 1)
    assert 0.0 <= chi2_sf(out["chi2"], out["dof"]) <= 1.0
