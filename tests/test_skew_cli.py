import pandas as pd


def test_cli_stats_with_nodata_requires_null_val(tmp_path):
    """--with-nodata without --null-val must error, not silently
    fall back to plain stats."""
    import subprocess
    import sys
    r = subprocess.run(
        [sys.executable, "-m", "pyshepseg_spark.cli", "stats",
         "--final", str(tmp_path / "nope.parquet"),
         "--out", str(tmp_path / "o.parquet"), "--with-nodata"],
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode != 0
    assert "requires --null-val" in (r.stderr + r.stdout)


def test_cli_segment_global_centres_roundtrip(tmp_path):
    """--global-centres (the reference's single-raster prepare
    protocol) drives the unfused spread-tiles path end to end and
    produces a readable stitched output."""
    import subprocess
    import sys
    imgs = str(tmp_path / "imgs.parquet")
    out = str(tmp_path / "final.parquet")
    for cmd in (
        ["gen", "--n", "2", "--size", "96", "--out", imgs],
        ["segment", "--images", imgs, "--out", out,
         "--tilesize", "64", "--overlap", "16", "--global-centres"],
    ):
        r = subprocess.run(
            [sys.executable, "-m", "pyshepseg_spark.cli"] + cmd,
            capture_output=True, text=True, cwd="/root/repo")
        assert r.returncode == 0, r.stderr[-2000:]
    import duckdb
    n = duckdb.sql(
        f"SELECT COUNT(*) AS n, MAX(octet_length(segdata)) AS m "
        f"FROM '{out}/*.parquet'").fetchone()
    assert n[0] > 0 and n[1] > 0


def test_cli_curate_end_to_end(tmp_path):
    """curate: PII scrub + Gopher gate + exact/near dedup -> kept
    corpus + per-doc audit with reasons."""
    import subprocess
    import sys

    import duckdb
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(7)
    vocab = [f"tok{i}" for i in range(400)]

    def mkdoc(n=150):
        ws = [str(w) for w in rng.choice(vocab, size=n)]
        for i in range(0, n, 12):
            ws[i] = "the"                     # stopword presence
        return " ".join(ws)

    good = [mkdoc() for _ in range(6)]
    texts = list(good)
    texts.append(good[0])                     # exact duplicate
    near = good[1].split()
    near[5] = "changed"
    texts.append(" ".join(near))              # near duplicate
    texts.append("too short")                 # gated
    texts.append(mkdoc() + " mail x@y.dev")   # pii but keepable
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    docs = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "curated.parquet")
    pdf.to_parquet(docs)

    r = subprocess.run(
        [sys.executable, "-m", "pyshepseg_spark.cli", "curate",
         "--docs", docs, "--out", out],
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]

    audit = duckdb.sql(
        f"SELECT * FROM '{out}.audit/*.parquet' ORDER BY doc_id").df()
    kept = duckdb.sql(
        f"SELECT doc_id FROM '{out}/*.parquet' ORDER BY doc_id").df()
    reasons = {int(r.doc_id): list(r.drop_reasons)
               for r in audit.itertuples()}
    assert len(audit) == len(texts)           # every doc audited
    assert reasons[6] == ["exact_duplicate"]
    assert reasons[7] == ["near_duplicate"]
    assert "too_few_words" in reasons[8]
    assert reasons[9] == []                   # pii masked, not dropped
    assert set(kept.doc_id) == {0, 1, 2, 3, 4, 5, 9}


def test_cli_curate_token_budget_audit_contract(tmp_path):
    """ADVICE r5 regression: with --token-budget, docs cut by the
    budget must carry an 'over_budget' drop reason with keep=false
    in the audit — the contract is 'only keep=true docs land in
    --out, every drop reason named'."""
    import subprocess
    import sys

    import duckdb
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(11)
    vocab = [f"tok{i}" for i in range(400)]

    def mkdoc(n=150):
        ws = [str(w) for w in rng.choice(vocab, size=n)]
        for i in range(0, n, 12):
            ws[i] = "the"
        return " ".join(ws)

    pdf = pd.DataFrame({"doc_id": range(6),
                        "text": [mkdoc() for _ in range(6)]})
    docs = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "curated.parquet")
    pdf.to_parquet(docs)

    r = subprocess.run(
        [sys.executable, "-m", "pyshepseg_spark.cli", "curate",
         "--docs", docs, "--out", out, "--token-budget", "450"],
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]

    audit = duckdb.sql(
        f"SELECT * FROM '{out}.audit/*.parquet' ORDER BY doc_id").df()
    kept = set(duckdb.sql(
        f"SELECT doc_id FROM '{out}/*.parquet'").df().doc_id)
    assert len(audit) == 6
    # 450-token budget keeps 3 of 6 150-token docs
    assert len(kept) == 3
    for row in audit.itertuples():
        if row.doc_id in kept:
            assert row.keep and list(row.drop_reasons) == []
        else:
            assert not row.keep
            assert "over_budget" in list(row.drop_reasons)


def test_cli_curate_with_benchmark_decontamination(tmp_path):
    """--benchmark drops docs sharing a 13-gram with the eval set,
    with reason 'contaminated' in the audit."""
    import subprocess
    import sys

    import duckdb
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(11)
    vocab = [f"tok{i}" for i in range(400)]

    def mkdoc(n=150):
        ws = [str(w) for w in rng.choice(vocab, size=n)]
        for i in range(0, n, 12):
            ws[i] = "the"
        return " ".join(ws)

    texts = [mkdoc() for _ in range(5)]
    # benchmark lifts a 13-word span from doc 2
    span = " ".join(texts[2].split()[40:53])
    bench = pd.DataFrame({"text": [span, "unrelated eval question"]})
    docs = str(tmp_path / "docs.parquet")
    bpath = str(tmp_path / "bench.parquet")
    out = str(tmp_path / "curated.parquet")
    pd.DataFrame({"doc_id": range(len(texts)),
                  "text": texts}).to_parquet(docs)
    bench.to_parquet(bpath)

    r = subprocess.run(
        [sys.executable, "-m", "pyshepseg_spark.cli", "curate",
         "--docs", docs, "--out", out, "--benchmark", bpath,
         "--token-budget", "100000"],   # generous: keeps all
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-2000:]

    audit = duckdb.sql(
        f"SELECT * FROM '{out}.audit/*.parquet' ORDER BY doc_id").df()
    reasons = {int(r.doc_id): list(r.drop_reasons)
               for r in audit.itertuples()}
    assert reasons[2] == ["contaminated"]
    kept = duckdb.sql(
        f"SELECT doc_id FROM '{out}/*.parquet'").df()
    assert set(kept.doc_id) == {0, 1, 3, 4}
