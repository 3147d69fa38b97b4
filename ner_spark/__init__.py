"""ner_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the capabilities of RoryDoctective/NER
(surveyed in SURVEY.md) as an idiomatic Spark DataFrame pipeline. The
KG path:

    files (repo, path, commit, lang, content)
      -> per-file gazetteer entities + declarations (operators/mentions.py)
      -> (subj, pred, obj) triples                  (operators/triples.py)
      -> distinct, or checkpointed and resumable    (plans/pipeline.py,
                                                     plans/checkpoint.py)

plus mention spans and BIO tags (operators/mentions.py), entity
linking (operators/linking.py), alias canonicalization
(operators/components.py), the reference's dictionary builders
(operators/dictionary.py), decoding (operators/decode.py), corpus
sources (sources/), and the training-data-pipeline operators a 100 TB
corpus needs (operators/dedup.py, operators/similarity.py,
functions/text.py).

Everything is DataFrame/Catalyst-first; Python appears only inside
vectorized pandas/Arrow UDFs (never per-row).
"""

__version__ = "0.1.0"

from ner_spark.session import get_spark  # noqa: F401
