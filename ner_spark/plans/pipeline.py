"""End-to-end KG pipeline: files -> gazetteer mentions + declarations -> triples.

``extract_triples`` is the one triple plan: one scan, one
``mapInPandas`` pass of the shared per-file extractor
(``mentions._extractor`` via ``triples.triples_direct``), one global
distinct. The entry point, the stream and the DuckDB-gated KG queries
all run it; the checkpointed job (plans/checkpoint.py) runs the same
extractor through its profile emitter instead. `file_key` is
content-derived (repo/path) — never monotonically_increasing_id — so
results are identical at any parallelism (north-rule determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ner_spark import synth
from ner_spark.functions.text import content_sha256
from ner_spark.operators.triples import DECL_RE, triples_direct


def with_file_key(files: DataFrame) -> DataFrame:
    """Stable key + the sha256 row invariant (input_hint contract)."""
    return files.withColumn("file_key", F.concat_ws("/", "repo", "path")).withColumn(
        "content_sha256", content_sha256("content")
    )


def extract_triples(
    files: DataFrame,
    gazetteer: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """files(repo,path,commit,lang,content) -> distinct (subj,pred,obj).

    Physical shape (the minimal plan): ONE mapInPandas pass over
    `content` emits all three triple families (gazetteer match +
    declaration regex fused), then ONE distinct shuffle dedupes
    globally with map-side partial aggregation. The 100 TB content
    column is scanned exactly once and the only exchanged data is the
    near-distinct triple stream. A null `content` contributes nothing.

    The resumable job runs the same extractor through its profile
    emitter (file_profiles -> all_triples_from_profiles), where the
    profile parquet is the checkpoint boundary (plans/checkpoint.py).
    """
    gaz = gazetteer if gazetteer is not None else synth.gazetteer_rows()
    keyed = with_file_key(files)
    return triples_direct(keyed, gaz, DECL_RE)


def run_synthetic(spark: SparkSession, sf: float = 0.001) -> DataFrame:
    """Generate the synthetic corpus at `sf` and extract triples."""
    files = synth.synth_files(spark, synth.n_files_for_sf(sf))
    return extract_triples(files)
