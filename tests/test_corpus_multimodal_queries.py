"""Differential tests: corpus-mixture and multimodal queries vs
their DuckDB oracles at sf0.001 (mirrors test_text_queries.py; the
sf0.01 run is the driver's / tools/check_correctness.py's job).

Also pins the aHash operator's structural properties that the value
oracle can't express directly: planted near-dup groups are found,
and the pair count stays linear in corpus size (banding, not
all-pairs).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.check_correctness import compare  # noqa: E402

from fin_trade_craft_spark.queries import corpus_mix, multimodal, reporting  # noqa: E402

from conftest import SF_SMOKE  # noqa: E402


@pytest.mark.parametrize("name", sorted(set(corpus_mix.QUERIES) & set(corpus_mix.ORACLES)))
def test_corpus_mix_vs_oracle(spark, duck, name):
    sdf = corpus_mix.QUERIES[name](spark, SF_SMOKE).toPandas()
    odf = duck.execute(corpus_mix.ORACLES[name]).df()
    assert len(sdf) > 0, f"{name}: empty result"
    ok, msg = compare(sdf, odf)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", sorted(set(multimodal.QUERIES) & set(multimodal.ORACLES)))
def test_multimodal_vs_oracle(spark, duck, name):
    sdf = multimodal.QUERIES[name](spark, SF_SMOKE).toPandas()
    odf = duck.execute(multimodal.ORACLES[name]).df()
    assert len(sdf) > 0, f"{name}: empty result"
    ok, msg = compare(sdf, odf)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", sorted(set(reporting.QUERIES) & set(reporting.ORACLES)))
def test_reporting_vs_oracle(spark, duck, name):
    sdf = reporting.QUERIES[name](spark, SF_SMOKE).toPandas()
    odf = duck.execute(reporting.ORACLES[name]).df()
    assert len(sdf) > 0, f"{name}: empty result"
    ok, msg = compare(sdf, odf)
    assert ok, f"{name}: {msg}"


def test_ahash_finds_planted_groups(spark):
    """Every doc_id triple {3p, 3p+1, 3p+2} is a planted near-dup
    group (same gradient, tiny per-member noise); the banded join
    must recover (almost all of) those pairs, and almost all found
    pairs must be in-group — cross-group hits are rare band
    accidents, not a flood."""
    pdf = multimodal.image_ahash_near_dupes(spark, SF_SMOKE).toPandas()
    in_group = (pdf["doc_a"] // 3 == pdf["doc_b"] // 3).sum()
    assert in_group >= 0.9 * len(pdf), "cross-group pair flood — banding broken"
    n_docs = 500  # sf0.001 documents
    planted = n_docs // 3 * 3  # 3 pairs per full triple
    assert in_group >= 0.9 * planted, "planted near-dup groups not recovered"


def test_ahash_invariants(spark):
    """aHash structural sanity on real decoded pixels: signature is
    a signed 64-bit long whose popcount is ~balanced for gradient
    images (mean-threshold ⇒ roughly half the cells above mean)."""
    from pyspark.sql import functions as F

    from fin_trade_craft_spark.operators.multimodal import ahash_images
    from fin_trade_craft_spark.sources.catalog import load_table

    import numpy as np
    import pandas as pd

    def make(batches):
        from fin_trade_craft_spark.functions import png as P

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 16 + did % 49, 16 + (did * 7) % 49
                img = ((np.arange(w)[None, :] * 3 + np.arange(h)[:, None] * 5 + did) % 256).astype(
                    np.uint8
                )
                rows.append((did, P.encode_png(img)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id").limit(64)
    sigs = ahash_images(docs.mapInPandas(make, "doc_id long, payload binary"))
    pdf = sigs.select("doc_id", F.bit_count("ahash").alias("pop")).toPandas()
    assert len(pdf) == 64
    # mean-threshold hashes of non-constant images keep some bits on
    # and some off — all-0/all-64 popcounts would mean a broken threshold
    assert (pdf["pop"] > 0).all() and (pdf["pop"] < 64).all()
    assert 20 <= pdf["pop"].mean() <= 44


def test_ahash_payload_matches_operator(spark):
    """The factored per-payload worker (r12 fused-kernel seam) is
    bit-identical to the ahash_images operator path for the same
    payloads — including color/luma and the undecodable→None stance
    the operator expresses as row exclusion."""
    import numpy as np
    import pandas as pd

    from fin_trade_craft_spark.functions import png as P
    from fin_trade_craft_spark.operators.multimodal import ahash_images, ahash_payload

    payloads = []
    for did in range(24):
        w, h = 16 + did % 49, 16 + (did * 7) % 49
        gray = ((np.arange(w)[None, :] * 3 + np.arange(h)[:, None] * 5 + did) % 256).astype(
            np.uint8
        )
        if did % 3 == 0:  # exercise the RGB→luma branch too
            img = np.stack([gray, (gray * 2) % 256, (gray * 3) % 256], axis=-1).astype(
                np.uint8
            )
        else:
            img = gray
        payloads.append((did, P.encode_png(img)))

    via_op = {
        int(r["doc_id"]): (int(r["ahash"]), int(r["width"]), int(r["height"]))
        for r in ahash_images(
            spark.createDataFrame(
                pd.DataFrame(payloads, columns=["doc_id", "payload"]),
                "doc_id long, payload binary",
            )
        ).collect()
    }
    assert len(via_op) == 24
    for did, raw in payloads:
        assert ahash_payload(bytes(raw)) == via_op[did]
    assert ahash_payload(b"not a png") is None


@pytest.mark.parametrize("sf,seed", [(0.01, 4), (0.001, 1)])
def test_chart_input_moving_averages_exact_on_generated_tables(spark, tmp_path, sf, seed):
    """ma20/ma50 are exact-decimal averages on both sides: on these
    generated tables a double AVG differed from DuckDB's AVG by 1-2 ulp
    (the two engines sum the window in different orders)."""
    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
    import datagen

    data = str(tmp_path / "data")
    datagen.generate(data, sf, seed)
    sdf = reporting.top25_chart_input(spark, data).toPandas()
    con = duckdb.connect()
    for t in ("orders", "customer", "nation", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    odf = con.execute(reporting.ORACLE_TOP25_CHART_INPUT).df()
    con.close()
    assert sdf["ma20"].notna().any()  # (no pick has the 50 bars ma50 needs here)
    ok, msg = compare(sdf, odf)
    assert ok, msg
