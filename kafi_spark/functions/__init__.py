"""Scalar/column function library + LLM-data-pipeline operators.

The reference has no scalar-function library (record logic is arbitrary
Python lambdas, SURVEY §2.8); this package provides the Column-first
equivalents plus the beyond-reference operators a large-scale
training-data pipeline needs:

* ``text``       — token/char counts, quality scoring, language ID,
                   fingerprints, PII redaction, normalization
* ``dedup``      — exact, n-gram Jaccard, MinHash+LSH, SimHash (+ portable
                   oracle-checkable twins), keep policies
* ``spans``      — corpus-wide duplicate token-span / line removal
                   (exact substring dedup, window plan)
* ``bloom``      — Bloom-filter incremental dedup with persisted,
                   mergeable DataFrame state
* ``similarity`` — cosine top-k (exact / LSH / IVF / int8-quantized),
                   embedding near-dup pairs, SemDeDup semantic dedup
* ``pq``         — product-quantization ANN (ADC scan + exact rescore)
* ``search``     — BM25 posting-list search + reciprocal-rank fusion
* ``importance`` — DSIR importance weights + Gumbel top-k selection,
                   LM-perplexity quality scoring
* ``bpe``        — histogram-trained BPE tokenizer, distributed encode
* ``embed``      — chunk→embed→pool plumbing (stub model, real shapes)
* ``portable``   — the shared md5 hash every DuckDB-replayable
                   operator derives from
* ``temporal``   — as-of join, range join (batch + streaming)
* ``packing``    — token-budget sequence packing
* ``mixing``     — target-proportion corpus mixing
* ``profile``    — one-pass per-column data-quality statistics
* ``analytic``   — top-n, lag/lead, rollup/cube, time_rollup,
                   percentiles, funnel conversion, cohort retention
* ``multimodal`` — binary-column plumbing: header decode, PCM
                   signal stats, BMP perceptual dHash, GIF frames
* ``pipeline``   — the end-to-end curation composition
* ``helpers``    — explode_normalize, dotted paths, ts/bytes coercions
* ``quality``    — trainable fastText-shape quality classifier
                   (hashed n-grams → distributed logistic regression)
* ``sketches``   — mergeable HLL/theta/KLL/count-min state layers
* ``layout``     — Z-order (Morton) clustering for multi-column pruning
                   (+ bucket-composed writes: shuffle-free joins AND
                   multi-column pruning from one table layout)
* ``skipindex``  — file-level bloom skip-index for point lookups
* ``ann_index``  — persisted IVF / IVF-PQ vector indexes (build /
                   search / append / health stats)
* ``contamination`` — n-gram + embedding-space benchmark
                   decontamination
"""
