"""LLM-data-pipeline operators (SURVEY.md §2.8): the driver-mandated
extension surface, designed for 100 TB.

- ``dedup``      : exact, n-gram Jaccard, MinHash+LSH, SimHash,
                   connected-components clustering, incremental dedup
- ``similarity`` : brute-force cosine top-k, LSH ANN, IVF-flat, int8
                   quantization, product quantization (ADC), SemDeDup
- ``text``       : tokenization, stats, language-ID, quality scoring,
                   TF-IDF, fingerprints, chunking, block dedup,
                   decontamination, packing, unigram surprisal
- ``multimodal`` : binary payload + typed metadata columns, stubbed
                   decoders with real Spark plumbing
- ``temporal``   : sessionization, as-of/band joins, rollups,
                   gap-fill (LOCF + interpolation), EWMA
- ``graph``      : integer-arithmetic PageRank over FK edge lists
- ``scd``        : SCD type-2 history from timestamped snapshots
- ``incremental_agg`` : mergeable rollup state (merge == recompute)
- ``sketches``   : Misra-Gries heavy hitters, count-min tables
- ``profiling``  : one-pass per-column table profiles
- ``layout``     : Z-order clustering keys and layout rewrites
- ``materialize``: eager checkpoints and the per-query scope that
                   frees the ones a query's result does not read
"""
