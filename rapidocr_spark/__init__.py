"""rapidocr_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the capabilities of BobLd/RapidOCR
(three-stage det→cls→rec text extraction, see /root/reference) as a
Spark-first pipeline over tables of multi-turn transcripts
(conv_id, turn_idx, role, text, tool, ts).

Layout
------
- ``kernels``   pure-numpy kernel library (no Spark imports): the
                deterministic synthetic inference kernels + the faithful
                post-processing semantics of the reference (DB bitmap
                thresholding, connected-component box extraction, unclip
                polygon expansion, orientation gate, CTC greedy decode,
                reading-order sort). Doubles as the single-node oracle.
- ``operators`` Spark stages: the fused Arrow-batched ``mapInPandas``
                extraction stage, gate routing, the spread in front of it.
- ``sources``   deterministic transcript fixture generator + readers.
- ``functions`` column-level libraries for training-data pipelines:
                dedup (exact/minhash/simhash/jaccard), similarity search,
                text analysis — all built on pyspark.sql.functions.
- ``plans``     relational query plans over the TPC-H-ish test tables.
- ``io``        checkpointed, idempotently-resumable sink + lineage.
- ``streaming`` (reserved) the reference is batch-only (SURVEY.md §2.9).
"""

__version__ = "0.1.0"
