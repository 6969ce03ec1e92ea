"""CLI surface: build + search drive the same engine end-to-end with
TREC-formatted output (cmd/search.go:92-101 parity)."""

from __future__ import annotations

import json


def test_cli_build_and_search(spark, transcripts_path, tmp_path, capsys):
    from pulse_spark.cli import main

    out = str(tmp_path / "idx")
    rc = main(["build", "--input", transcripts_path, "--output", out])
    assert rc == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["n_docs"] > 0

    rc = main(["search", "--index", out, "--query", "error function", "-k", "5"])
    assert rc == 0
    all_lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    # reference prints "#\t<qid>\t<elapsed>\t<µs>" after each query's
    # results (cmd/search.go:98-101) — present, and skipped by TREC parsers
    timing = [ln for ln in all_lines if ln.startswith("#")]
    assert timing and len(timing[0].split("\t")) == 4
    lines = [ln for ln in all_lines if not ln.startswith("#")]
    for ln in lines:
        qid, q0, doc_no, rank, score, tag = ln.split("\t")
        assert q0 == "Q0" and tag == "pulse_spark"
        assert ":" in doc_no
        float(score)

    # conjunctive + TFIDF paths exercise flag plumbing
    rc = main(["search", "--index", out, "--query", "error", "--metric", "tfidf",
               "--conjunctive", "-k", "3"])
    assert rc == 0


def test_cli_eval_trec_run(spark, tmp_path, capsys):
    """search output piped to eval: the run of an engine against qrels
    naming its own top docs scores P@1 = 1 (and '#' timing lines are
    skipped by the parser)."""
    from pulse_spark.cli import main

    run = tmp_path / "run.txt"
    run.write_text(
        "1\tQ0\tdocA\t0\t2.5\tpulse_spark\n"
        "1\tQ0\tdocB\t1\t1.5\tpulse_spark\n"
        "#\t1\t12.3ms\t12300\n"
        "2\tQ0\tdocC\t0\t3.0\tpulse_spark\n"
    )
    qrels = tmp_path / "qrels.txt"
    qrels.write_text(
        "1 0 docA 2\n"
        "1 0 docZ 1\n"
        "2 0 docC 1\n"
    )
    rc = main(["eval", "--run", str(run), "--qrels", str(qrels), "-k", "2"])
    assert rc == 0
    import json as _json

    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    per_q = [_json.loads(ln) for ln in lines[:-1]]
    macro = _json.loads(lines[-1])
    assert macro["n_queries"] == 2
    byq = {r["query_id"]: r for r in per_q}
    assert byq[1]["p_at_2"] == 0.5 and byq[1]["recall_at_2"] == 0.5
    assert byq[2]["p_at_2"] == 0.5 and byq[2]["recall_at_2"] == 1.0
    assert byq[2]["ndcg_at_2"] == 1.0


def test_stemming_improves_recall_through_eval_cli(spark, tmp_path, capsys):
    """Frozen realistic-qrels quality fixture (the reference's Table 4.6
    experiment, docs/docs.pdf: recall@1000 .754 with stemming vs .693
    without; docs/run.sh:21-46 workflow): a frozen labeled corpus where
    half of each query's relevant docs use only MORPHOLOGICAL VARIANTS
    of the query terms (merging/merged vs merge, partitioned vs
    partition, ...).  Built, searched, and scored entirely through the
    CLI (build -> search -> eval, the trec_eval workflow); the stemmed
    index must recover the variant docs (recall 1.0), the unstemmed one
    cannot (recall 0.5).  Guards the stemming/stopword semantics family
    DuckDB can't oracle."""
    import os

    from pulse_spark import cli

    fx = os.path.join(os.path.dirname(__file__), "fixtures")
    docs = []
    for ln in open(os.path.join(fx, "stem_recall_docs.tsv")):
        no, text = ln.rstrip("\n").split("\t")
        docs.append((no, 0, "user", text, "", None))
    src = str(tmp_path / "transcripts")
    spark.createDataFrame(
        docs, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp",
    ).write.parquet(src)

    recalls = {}
    for stemmed in (True, False):
        out = str(tmp_path / f"idx_{stemmed}")
        args = ["build", "--input", src, "--output", out]
        if not stemmed:
            args.append("--no-stemming")
        assert cli.main(args) == 0
        capsys.readouterr()

        assert cli.main([
            "search", "--index", out, "-k", "10",
            "--queries", os.path.join(fx, "stem_recall_queries.tsv"),
        ]) == 0
        run_file = str(tmp_path / f"run_{stemmed}.txt")
        with open(run_file, "w") as f:
            f.write(capsys.readouterr().out)

        assert cli.main([
            "eval", "--run", run_file,
            "--qrels", os.path.join(fx, "stem_recall_qrels.txt"), "-k", "10",
        ]) == 0
        lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
        macro = json.loads(lines[-1])
        recalls[stemmed] = macro["mean_recall_at_10"]

    assert recalls[True] > recalls[False]          # the Table 4.6 effect
    assert abs(recalls[True] - 1.0) < 1e-6         # variants recovered
    assert abs(recalls[False] - 0.5) < 1e-6        # exact-match ceiling


def test_cli_stats(spark, transcripts_path, tmp_path, capsys):
    """`stats` inspects a committed index driver-side (no Spark jobs):
    corpus stats, vocab size, per-stage bytes/rows, tombstone count."""
    import json as _json

    from pulse_spark import cli
    from pulse_spark.config import IndexingSettings
    from pulse_spark.index.deletes import delete_docs
    from pulse_spark.index.persist import build_persisted_index

    tr = spark.read.parquet(transcripts_path)
    idx = build_persisted_index(
        spark, tr, str(tmp_path / "stx"),
        IndexingSettings(block_size=32),
        build_segments=True,
    )
    victim = idx.docs.select("doc_no").first()["doc_no"]
    assert delete_docs(spark, idx.out_dir, [victim]) == 1

    rc = cli.main(["stats", "--index", idx.out_dir])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["n_docs"] == idx.n_docs
    assert out["n_terms"] > 0
    assert out["n_tombstoned"] == 1
    assert out["settings"]["block_size"] == 32
    for stage in ("docs", "postings", "terms", "stats", "segments"):
        assert out["stages"][stage]["bytes"] > 0
        assert out["stages"][stage]["rows"] >= 1


def test_cli_explain_and_suggest(spark, transcripts_path, tmp_path, capsys):
    from pulse_spark.cli import main

    out = str(tmp_path / "idx_ex")
    assert main(["build", "--input", transcripts_path, "--output", out]) == 0
    capsys.readouterr()

    # explain: breakdown lines whose per-doc term_score sum == score,
    # over exactly the docs the plain search returns
    assert main(["search", "--index", out, "--query", "error function",
                 "-k", "5"]) == 0
    trec = [ln.split("\t") for ln in capsys.readouterr().out.splitlines()
            if ln.strip() and not ln.startswith("#")]
    want_docs = {(p[0], p[2]) for p in trec}

    assert main(["explain", "--index", out, "--query", "error function",
                 "-k", "5"]) == 0
    lines = [ln.split("\t") for ln in capsys.readouterr().out.splitlines()
             if ln.strip()]
    assert lines and all(len(p) == 10 for p in lines)
    per_doc: dict = {}
    for qid, rank, doc_no, score, term, tf, df, occ, idf, ts in lines:
        per_doc.setdefault((qid, doc_no), [0.0, float(score)])
        per_doc[(qid, doc_no)][0] += float(ts)
    assert set(per_doc) == want_docs
    for ssum, stotal in per_doc.values():
        assert abs(ssum - stotal) < 2e-5  # printed at 6 decimals

    # suggest: a misspelling maps to the lexicon term; an in-lexicon
    # token yields no line
    assert main(["suggest", "--index", out, "--query", "erorr function",
                 "--max-edits", "2", "-n", "2"]) == 0
    sug = [ln.split("\t") for ln in capsys.readouterr().out.splitlines()
           if ln.strip()]
    assert sug and all(len(p) == 6 for p in sug)
    assert all(p[2] == "erorr" for p in sug)  # 'function' is in-lexicon
    assert any(p[3] == "error" for p in sug)
