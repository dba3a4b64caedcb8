"""Text-analysis semantics on planted corpora (the fixture-independent
checks; oracle parity for the tx family lives in test_oracle_parity.py)."""

from __future__ import annotations


def test_heaps_beta_separates_saturating_from_growing_vocab(spark):
    """tx17's fitness signal on planted corpora: a template source that
    recycles the same 10 tokens saturates (beta near 0), a source whose
    every doc introduces new vocabulary keeps growing (beta near 1), and
    the first-seen decomposition's totals must equal the true per-source
    distinct-token counts. Setting the retired decimation conf key changes
    no row."""
    from trafficanalysisbigdata_spark.plans.registry import load_all

    rows = []
    for d in range(12):
        rows.append(
            (d, "saturated", " ".join(f"t{i % 10:02d}" for i in range(d, d + 20)))
        )
    for d in range(12, 24):
        rows.append((d, "growing", " ".join(f"g{d:02d}x{i:02d}" for i in range(20))))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    docs.createOrReplaceTempView("documents")
    tx17 = load_all()["tx17_heaps_vocab_growth"].fn
    # the retired decimation conf must not change tx17: at 20 points per
    # decade the old conf route dropped rank 11 of each 12-doc source
    retired_conf = "spark.trafficanalysisbigdata.heaps.pointsPerDecade"
    try:
        rows_unset = sorted(tx17(spark, "").collect())
        spark.conf.set(retired_conf, "20")
        try:
            rows_set = sorted(tx17(spark, "").collect())
        finally:
            spark.conf.unset(retired_conf)
    finally:
        spark.catalog.dropTempView("documents")
    assert rows_set == rows_unset
    out = {r.source: r for r in rows_unset}
    assert out["saturated"].n_vocab == 10
    assert out["growing"].n_vocab == 12 * 20
    assert out["saturated"].heaps_beta < 0.1
    assert out["growing"].heaps_beta > 0.9
    assert out["saturated"].n_tokens == 12 * 20 and out["growing"].n_tokens == 12 * 20


def test_bm25_length_norm_and_tf_saturation(spark):
    """tx18's scoring on planted docs: with equal tf, the SHORTER doc must
    outrank the longer (b-length normalization); tf saturation means 10
    occurrences score well under 10x one occurrence (k1 cap); and a doc
    matching two query terms outranks one matching a single term at the
    same tf/dl."""
    from trafficanalysisbigdata_spark.plans.registry import load_all

    pad = lambda k: " ".join(f"pad{i:02d}" for i in range(k))
    rows = [
        (0, "window " + pad(9)),            # tf=1, dl=10
        (1, "window " + pad(39)),           # tf=1, dl=40 (longer, same tf)
        (2, " ".join(["window"] * 10) + " " + pad(30)),  # tf=10, dl=40
        (3, "window merge " + pad(8)),      # two terms, dl=10
        (4, pad(10)),                       # no match: absent from result
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.createOrReplaceTempView("documents")
    try:
        out = {r.doc_id: r for r in load_all()["tx18_bm25_topk"].fn(spark, "").collect()}
    finally:
        spark.catalog.dropTempView("documents")
    assert 4 not in out
    assert out[0].bm25 > out[1].bm25            # length normalization
    assert out[2].bm25 < 10 * out[1].bm25       # tf saturation at k1=1.2
    assert out[3].bm25 > out[0].bm25            # second term adds score
    assert out[3].n_terms == 2 and out[0].n_terms == 1
