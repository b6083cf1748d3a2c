"""Stats-as-aggregation vs independent numpy computation."""

import numpy as np
import pytest

from isen_projet_bigdata_a3s6_spark.sources.readers import load_table
from isen_projet_bigdata_a3s6_spark.stats.inference import (
    anova_oneway_df,
    chi_square_df,
)
from isen_projet_bigdata_a3s6_spark.stats.regression import simple_ols_df


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
