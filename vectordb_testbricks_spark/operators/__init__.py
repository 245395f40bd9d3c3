"""Operator library: each module maps to a SURVEY.md §2 operator family.

- ``query``        Q1-Q6: filter/project/limit, count(*), PK ops, iterator
- ``search``       V1/V2/V5/V6: brute-force ANN top-k, pre-filter, grouping,
                   sparse dot-product
- ``fusion``       V3/V4/V8: RRF + weighted hybrid fusion
- ``bm25``         V7: BM25 corpus stats + full-text search
- ``dml``          S1-S4: insert / upsert / partial update / delete-by-filter,
                   array append/remove partial update
- ``dedup``        training-pipeline dedup: exact, MinHash-LSH, SimHash,
                   n-gram Jaccard, embedding-cosine
- ``arrow_kernels`` Arrow-batched numpy twins of the MinHash, SimHash,
                   Jaccard, sparse-posting and kNN hot paths
- ``ngram_index``  NGRAM inverted index: infix-LIKE acceleration
- ``textquality``  language-ID, quality scoring, token counts, fingerprints
- ``corpus``       deterministic hash-based train/val/test splits
- ``json_shred``   JSON-path shredding into typed columns
- ``multimodal``   image/audio/video column pipeline (Arrow-batched stages)
- ``struct_array`` StructArray / embedding-list element-level operators
- ``ann_index``    one IVF coarse quantizer over flat, SQ8 and packed-bit
                   lists (build, one persisted layout, probe + exact
                   rescore); LSH, binary rerank, sparse inverted
"""
