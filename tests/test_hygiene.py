"""Corpus hygiene (operators/hygiene.py): PII redaction, stratified
sampling, domain-mix rebalancing; and code hygiene: operator modules
share helpers only through public names."""

from __future__ import annotations

import ast
import pathlib
import re

from pyspark.sql import functions as F

from mito_spark.engine import load_table
from mito_spark.operators.hygiene import (
    EMAIL_RE,
    IPV4_RE,
    PHONE_RE,
    _with_synthetic_pii,
    domain_mix,
    pii_redaction,
    stratified_sample,
)


def test_pii_counts_nonzero_and_redacted(spark, sf_dir):
    out = pii_redaction(spark, sf_dir)
    rows = out.collect()
    # every doc got one synthetic email/ip/phone appended
    assert all(r.n_emails >= 1 and r.n_ips >= 1 and r.n_phones >= 1 for r in rows)


def test_pii_redaction_removes_all_matches(spark, sf_dir):
    docs = _with_synthetic_pii(load_table(spark, sf_dir, "documents")).limit(50)
    red = docs.select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text_pii"), PHONE_RE, "<PHONE>"), IPV4_RE, "<IP>"
            ),
            EMAIL_RE,
            "<EMAIL>",
        ).alias("r")
    )
    for row in red.collect():
        assert not re.search(EMAIL_RE, row.r)
        assert not re.search(IPV4_RE, row.r)
        assert not re.search(PHONE_RE, row.r)


def test_stratified_sample_deterministic_and_bounded(spark, sf_dir):
    a = {(r.source, r.doc_id) for r in stratified_sample(spark, sf_dir).collect()}
    b = {(r.source, r.doc_id) for r in stratified_sample(spark, sf_dir).collect()}
    assert a == b  # hash rank, not RAND(): identical across runs
    per = {}
    for s, _ in a:
        per[s] = per.get(s, 0) + 1
    assert all(n <= 20 for n in per.values())
    # different salt → different sample (the salt actually salts)
    c = {(r.source, r.doc_id) for r in stratified_sample(spark, sf_dir, salt="other").collect()}
    assert c != a


def test_domain_mix_rebalances_to_min_source(spark, sf_dir):
    rows = {r.source: r for r in domain_mix(spark, sf_dir).collect()}
    assert len(rows) > 1
    min_tokens = min(r.src_tokens for r in rows.values())
    for r in rows.values():
        assert 0 < r.keep_frac <= 1.0
        assert r.tokens_kept <= r.src_tokens
    # the smallest source keeps everything (keep_frac == 1)
    smallest = [r for r in rows.values() if r.src_tokens == min_tokens][0]
    assert abs(smallest.keep_frac - 1.0) < 1e-9
    # kept token mass is within sampling noise of the uniform target
    for r in rows.values():
        assert r.tokens_kept < 2.2 * min_tokens


def test_quantize_embeddings_error_bound(spark, sf_dir):
    """int8 symmetric quantization: reconstruction error is bounded by
    half a quantization step (0.5/scale); checksum is deterministic."""
    from mito_spark.operators.quantize import quantize_embeddings

    rows = quantize_embeddings(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        if r.scale > 0:
            # both sides are 6dp-rounded in the output → tolerance
            assert r.recon_err <= 0.5 / r.scale * (1 + 1e-3) + 1e-6
        else:
            assert r.q_l1 == 0  # zero vector -> all-zero codes
    a = {r.vec_id: r.q_checksum for r in rows}
    b = {r.vec_id: r.q_checksum for r in quantize_embeddings(spark, sf_dir).collect()}
    assert a == b


def test_hot_keys_finds_planted_skew(spark):
    from pyspark.sql import functions as F

    from mito_spark.operators.skew import hot_keys

    # 50k rows: key 'hot' holds 30%, the rest spread over 1000 keys
    df = spark.range(50_000).select(
        F.when(F.col("id") % 10 < 3, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 1000).cast("string")))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    out = hot_keys(df, "k", sample_fraction=0.1, top=5, min_share=0.05)
    rows = out.collect()
    assert rows and rows[0].key == "hot"
    assert abs(rows[0].est_share - 0.3) < 0.05
    # deterministic: identical output across runs and repartitionings
    again = hot_keys(df.repartition(7), "k", sample_fraction=0.1, top=5, min_share=0.05).collect()
    assert [(r.key, r.est_share) for r in rows] == [(r.key, r.est_share) for r in again]


def test_domain_mix_temperature_flattens_toward_uniform(spark, sf_dir):
    from mito_spark.operators.hygiene import domain_mix_temperature

    rows = {r.source: r for r in domain_mix_temperature(spark, sf_dir).collect()}
    shares = {s: r.target_share for s, r in rows.items()}
    naturals = {s: r.src_tokens for s, r in rows.items()}
    tot = sum(naturals.values())
    # alpha<1 compresses the range: big sources' target share below
    # natural share, small sources' above
    big = max(naturals, key=naturals.get)
    small = min(naturals, key=naturals.get)
    assert shares[big] < naturals[big] / tot
    assert shares[small] > naturals[small] / tot
    # shares are 6dp-rounded; 20 sources accumulate up to ~1e-5
    assert abs(sum(shares.values()) - 1.0) < 2e-5
    # feasibility: no source oversampled, the binding source keeps all
    assert all(0 < r.keep_frac <= 1.0 + 1e-9 for r in rows.values())
    assert any(abs(r.keep_frac - 1.0) < 1e-6 for r in rows.values())


def test_domain_epoch_plan_hand_numbers(spark, tmp_path):
    """Two planted sources (90 and 10 tokens) at alpha=0.5: shares
    are exactly 0.75/0.25 (sqrt(90):sqrt(10) = 3:1), a 2x budget
    allocates 150/50 tokens, so epochs read 1.667/5.0 — and the small
    source crosses the 4-epoch cap: flagged, realized capped at 40."""
    import pyspark.sql.functions as F

    from mito_spark.operators.hygiene import domain_epoch_plan

    docs = [(i, " ".join(f"w{j}" for j in range(9)), "A") for i in range(10)]
    docs += [(100, " ".join(f"v{j}" for j in range(10)), "B")]
    d = str(tmp_path / "epoch")
    spark.createDataFrame(docs, "doc_id long, text string, source string").withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).write.parquet(d + "/documents.parquet")
    rows = {r["source"]: r for r in domain_epoch_plan(spark, d).collect()}
    a, b = rows["A"], rows["B"]
    assert (a["src_tokens"], b["src_tokens"]) == (90, 10)
    assert (a["target_share"], b["target_share"]) == (0.75, 0.25)
    assert (a["allocated_tokens"], b["allocated_tokens"]) == (150, 50)
    assert (a["epochs"], b["epochs"]) == (1.666667, 5.0)
    assert (a["capped"], b["capped"]) == (False, True)
    assert (a["realized_tokens"], b["realized_tokens"]) == (150, 40)


def test_packing_efficiency_hand_numbers_and_invariants(spark, tmp_path, sf_dir):
    """Planted: three 10-token docs at L=16 — concat-chunk needs
    ceil(30/16)=2 sequences and splits exactly the middle doc; padding
    wastes (48-30)/48. Gate invariants: totals constant across rungs,
    pack always beats pad on waste, truncation shrinks with L."""
    import pyspark.sql.functions as F

    from mito_spark.operators.sampling import packing_efficiency_report

    d = str(tmp_path / "packeff")
    docs = [(i, " ".join(f"w{j}" for j in range(10))) for i in range(3)]
    spark.createDataFrame(docs, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(d + "/documents.parquet")
    (r,) = packing_efficiency_report(spark, d, seq_lens=(16,)).collect()
    assert (r["n_docs"], r["total_tokens"], r["trunc_lost"]) == (3, 30, 0)
    assert (r["pad_seqs"], r["pad_waste"]) == (3, 0.375)
    assert (r["pack_seqs"], r["split_docs"]) == (2, 1)
    assert r["pack_waste"] == round((2 * 16 - 30) / 32, 6)

    rows = packing_efficiency_report(spark, sf_dir).collect()
    assert len({r["total_tokens"] for r in rows}) == 1
    lost = [r["trunc_lost"] for r in rows]
    assert lost == sorted(lost, reverse=True)
    for r in rows:
        assert r["pack_waste"] < r["pad_waste"]
        assert r["pack_seqs"] * r["seq_len"] >= r["total_tokens"]


def _private_imports(pkg_dir: str) -> list[str]:
    """``from mito_spark.{operators,streaming}.<m> import _<name>`` lines
    in the modules of ``mito_spark/<pkg_dir>``, other than a module
    importing its own names."""
    root = pathlib.Path(__file__).resolve().parent.parent / "mito_spark"
    bad = []
    for path in sorted((root / pkg_dir).glob("*.py")):
        own = f"mito_spark.{pkg_dir}.{path.stem}"
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.ImportFrom) and node.module):
                continue
            pkg, _, owner = node.module.rpartition(".")
            if pkg not in ("mito_spark.operators", "mito_spark.streaming") or node.module == own:
                continue
            bad += [f"{path.name}: {owner}.{a.name}" for a in node.names if a.name.startswith("_")]
    return bad


def test_operator_modules_import_no_private_names_of_each_other():
    """A helper one operator module shares with another is public in
    its owning module: ``from mito_spark.operators.<m> import _<name>``
    in a different operator module fails here."""
    bad = _private_imports("operators")
    assert not bad, bad


def test_streaming_modules_import_no_private_operator_names():
    """The stream twins reuse operator helpers and constants only
    through public names, as the operator modules do among themselves."""
    bad = _private_imports("streaming")
    assert not bad, bad
