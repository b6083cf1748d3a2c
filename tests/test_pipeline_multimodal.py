"""Trees pipeline invariants (SURVEY §5.2 golden checks) + multimodal
plumbing."""

from pyspark.sql import functions as F

from isen_projet_bigdata_a3s6_spark.multimodal import extract_image_features
from isen_projet_bigdata_a3s6_spark.plans.trees_pipeline import (
    FINAL_COLUMNS,
    clean_trees,
    trees_fixture,
)


def test_clean_trees_invariants(spark):
    raw = trees_fixture(spark, n=300)
    out = clean_trees(raw)
    pdf = out.toPandas()
    # final 20-column schema (Rapport Fonctionnalité 6)
    assert list(pdf.columns) == FINAL_COLUMNS
    assert len(pdf) > 0
    # age capped at 200 for >300 outliers (R_groupe4.R:80)
    assert pdf.age_estim.max() <= 300
    # Gricourt/Griourt filtered (R_groupe4.R:145-146)
    assert not pdf.clc_secteur.isin(["Gricourt", "Griourt"]).any()
    # secteur title-cased (R_groupe4.R:178)
    assert (pdf.clc_secteur.dropna() == pdf.clc_secteur.dropna().str.lower().str.title()).all()
    # no null strings after fills (R_groupe4.R:209)
    for c in ("clc_quartier", "clc_secteur", "villeca", "fk_pied"):
        assert pdf[c].notna().all(), c
    # villeca residuals defaulted (R_groupe4.R:205)
    assert set(pdf.villeca.unique()) <= {"VILLE", "CA", "AUTRE"}
    # stadedev case-normalized (R_groupe4.R:90-91)
    assert not pdf.fk_stadedev.isin(["Adulte", "Jeune"]).any()


def test_media_metadata_and_features(spark):
    rows = [(1, bytearray(b"fake-png-bytes-1")), (2, bytearray(b"other-bytes"))]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    feats = extract_image_features(df).collect()
    assert {r["media_id"] for r in feats} == {1, 2}
    assert all(r["width"] == 8 and r["channels"] == 3 for r in feats)
    # deterministic: same bytes → same features
    feats2 = extract_image_features(df).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, feats2))


def test_report_queries_run(spark):
    from isen_projet_bigdata_a3s6_spark.plans.report_queries import (
        QUARTIERS,
        quartier_breakdown,
        run_report,
    )
    from isen_projet_bigdata_a3s6_spark.plans.trees_pipeline import (
        clean_trees,
        trees_fixture,
    )

    trees = clean_trees(trees_fixture(spark, n=300)).cache()
    report = run_report(trees)
    assert set(report) == {
        "stadedev_counts", "quartier_counts", "situation_counts",
        "secteur_by_quartier", "species_by_quartier", "remarkable_by_quartier",
        "feuillage_x_villeca", "revetement_x_villeca", "secteur_map_buckets",
        "villeca_mode",
    }
    for name, df in report.items():
        assert df.count() >= 0, name
    # single per-quartier chart equals the slice of the one-pass version
    q = QUARTIERS[0]
    single = {
        (r["clc_secteur"], r["n"])
        for r in quartier_breakdown(trees, q, "clc_secteur").collect()
    }
    combined = {
        (r["clc_secteur"], r["n"])
        for r in report["secteur_by_quartier"]
        .filter(F.col("clc_quartier") == q)
        .select("clc_secteur", "n")
        .collect()
    }
    assert single == combined
    # map buckets are one of the three colors
    assert {
        r["couleur"] for r in report["secteur_map_buckets"].collect()
    } <= {"vert", "jaune", "rouge"}
    trees.unpersist()
