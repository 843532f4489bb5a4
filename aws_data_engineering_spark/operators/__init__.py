"""Operators: the engine's query surface (SURVEY.md §2b).

- relational: joins, aggregations, windows, sort/limit, set ops
- dedup: exact / fuzzy (MinHash-LSH, SimHash, n-gram Jaccard) deduplication
- graph: connected components, triangles and PageRank over near-dup pairs
- similarity: embedding top-k — one probe scan (exact cosine, MIPS, PQ,
  hard negatives), one inverted-list path (IVF, IVFPQ), LSH buckets
- text: language-ID, quality scoring, token counting, fingerprinting
- multimodal: binary media columns — one pure-Python codec per format
  (PNG, WAV, JPEG, MP4, GIF, WebVTT) behind one Arrow row runner
"""
