"""End-to-end KG pipeline tests: mention detection, BIO tagging,
triples vs the pure-Python golden oracle (P/R >= 0.95 north rule),
row invariant, and parallelism-invariance."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from ner_spark import synth
from ner_spark.operators.mentions import bio_tags_for_files, file_profiles, mention_spans
from ner_spark.operators.triples import DECL_RE, all_triples_from_profiles
from ner_spark.plans import pipeline
from ner_spark.plans.checkpoint import run_kg_checkpointed

N_FILES = 60


def _files(spark, n=N_FILES, parts=4):
    return synth.synth_files(spark, n, parallelism=parts)


def test_synth_deterministic_across_partitioning(spark):
    a = sorted(_files(spark, 40, 2).collect())
    b = sorted(_files(spark, 40, 8).collect())
    assert a == b


def test_content_sha256_invariant_through_pipeline(spark):
    """north rule: per-row content sha256 equality end-to-end."""
    import hashlib

    keyed = pipeline.with_file_key(_files(spark, 20))
    rows = keyed.select("content", "content_sha256").collect()
    assert len(rows) == 20
    for r in rows:
        assert r["content_sha256"] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_mention_spans_exact_offsets(spark):
    files = spark.createDataFrame(
        [("r", "p", "c", "python", "import numpy\nx = numpy.dot(tf)")],
        synth.FILES_SCHEMA,
    )
    keyed = pipeline.with_file_key(files)
    got = mention_spans(keyed, [("numpy", "numpy", "LIB"), ("tf", "tensorflow", "LIB")]).collect()
    spans = sorted((r["begin"], r["end"], r["surface"], r["entity"]) for r in got)
    assert spans == [(7, 12, "numpy", "numpy"), (17, 22, "numpy", "numpy"), (27, 29, "tf", "tensorflow")]


def test_mention_spans_word_boundaries(spark):
    # 'np' must not match inside 'numpy' / 'np2' / 'x_np'
    files = spark.createDataFrame(
        [("r", "p", "c", "python", "numpy np np2 x_np np")], synth.FILES_SCHEMA
    )
    keyed = pipeline.with_file_key(files)
    got = mention_spans(keyed, [("np", "numpy", "LIB")]).collect()
    assert sorted((r["begin"], r["end"]) for r in got) == [(6, 8), (18, 20)]


def test_non_identifier_alias_reaches_automaton(spark):
    """An alias outside [A-Za-z0-9_]+ switches the extractor to the
    automaton; both emitters still find it as a whole word."""
    gaz = [("c++", "cpp", "LANG"), ("numpy", "numpy", "LIB")]
    files = spark.createDataFrame(
        [("r", "a.cpp", "c", "cpp", "// c++ bindings for numpy\nclass Arr:\n  pass\n"),
         ("r", "b.cpp", "c", "cpp", "xc++ c++x numpy\n")],
        synth.FILES_SCHEMA,
    )
    want = {
        ("r", "CONTAINS", "cpp"),
        ("r", "CONTAINS", "numpy"),
        ("cpp", "COOCCURS", "numpy"),
        ("r/a.cpp", "DECLARES", "Arr"),
    }
    assert {tuple(r) for r in pipeline.extract_triples(files, gaz).collect()} == want
    profiles = file_profiles(pipeline.with_file_key(files), gaz, DECL_RE)
    assert {r["file_key"]: r["entities"] for r in profiles.collect()} == {
        "r/a.cpp": ["cpp", "numpy"],
        "r/b.cpp": ["numpy"],
    }
    assert {tuple(r) for r in all_triples_from_profiles(profiles).collect()} == want


def test_automaton_and_token_modes_agree(spark):
    """Synth files: the token path (all-identifier gazetteer) and the
    automaton path (forced by one non-identifier alias that matches
    nothing) give the same per-file entity sets, and so do the spans."""
    keyed = pipeline.with_file_key(_files(spark))
    gaz = synth.gazetteer_rows()

    def entity_sets(rows):
        return {(r["file_key"], tuple(r["entities"])) for r in rows if r["entities"]}

    token = entity_sets(file_profiles(keyed, gaz, DECL_RE).collect())
    automaton = entity_sets(
        file_profiles(keyed, gaz + [("no+such+alias", "nothing", "X")], DECL_RE).collect()
    )
    spans = (
        mention_spans(keyed, gaz)
        .groupBy("file_key")
        .agg(F.array_sort(F.collect_set("entity")).alias("entities"))
        .collect()
    )
    assert token and token == automaton == entity_sets(spans)


def test_bio_tags_validity_and_alignment(spark):
    files = spark.createDataFrame(
        [("r", "p", "c", "python", "use apache_spark and numpy now")], synth.FILES_SCHEMA
    )
    keyed = pipeline.with_file_key(files)
    row = bio_tags_for_files(
        keyed, [("apache_spark", "spark", "LIB"), ("numpy", "numpy", "LIB")]
    ).first()
    assert row["tokens"] == ["use", "apache_spark", "and", "numpy", "now"]
    assert row["bio_tags"] == ["O", "B-LIB", "O", "B-LIB", "O"]
    # BIO validity: no I- following O or start
    prev = "O"
    for t in row["bio_tags"]:
        if t.startswith("I-"):
            assert prev.endswith(t[2:])
        prev = t


def test_triples_match_golden_oracle(spark):
    """North rule: triple P/R >= 0.95 vs reference-semantics oracle.

    The pipeline is exact-by-construction so we assert equality, which
    trivially implies P/R >= 0.95.
    """
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in pipeline.extract_triples(_files(spark)).collect()
    }
    want = synth.golden_triples(N_FILES)
    tp = len(got & want)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(want), 1)
    assert precision >= 0.95 and recall >= 0.95
    assert got == want


def test_triples_parallelism_invariant(spark):
    t1, t2, t8 = (
        {tuple(r) for r in pipeline.extract_triples(_files(spark, 40, parts)).collect()}
        for parts in (1, 2, 8)
    )
    assert t1 == t2 == t8


HOSTILE_SCHEMA = "repo string, path string, commit string, lang string, content string"


def test_hostile_content_completes(spark, tmp_path):
    """Null, empty, CJK-around-alias and >1 MB content: the fused plan
    and the checkpointed job both complete, every file gets a profile,
    and a null row contributes no triples."""
    big = "import torch\n" + "x = 1\n" * 200_000 + "def big_fn():\n    pass\n"
    assert len(big) > 1_000_000
    rows = [
        ("r1", "null.py", "c", "python", None),
        ("r1", "empty.py", "c", "python", ""),
        ("r2", "cjk.py", "c", "python", "使用numpy和pandas\ndef run():\n    pass\n"),
        ("r3", "big.py", "c", "python", big),
    ]
    files = spark.createDataFrame(rows, HOSTILE_SCHEMA)
    want = {
        tuple(r)
        for r in pipeline.extract_triples(files.filter(F.col("content").isNotNull())).collect()
    }
    assert {
        ("r2", "CONTAINS", "numpy"),
        ("numpy", "COOCCURS", "pandas"),
        ("r2/cjk.py", "DECLARES", "run"),
        ("r3", "CONTAINS", "pytorch"),
        ("r3/big.py", "DECLARES", "big_fn"),
    } <= want
    assert {tuple(r) for r in pipeline.extract_triples(files).collect()} == want

    files_path = str(tmp_path / "files.parquet")
    files.write.parquet(files_path)
    root = tmp_path / "ckpt"
    got = {tuple(r) for r in run_kg_checkpointed(spark, files_path, str(root)).collect()}
    assert got == want
    man = json.loads((root / "profiles" / "manifest.json").read_text())
    assert man["rows_out"] == len(rows)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert {"subj", "pred", "obj"} <= set(df.columns)
    assert df.count() > 0
