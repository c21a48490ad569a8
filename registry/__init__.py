"""The query registry: one module per query family, each defining
``queries()``, the Spark builders, and ``oracle_sql()``, a DuckDB oracle
for each of the same names. ``__spark_entry__`` merges the families.

Oracle strategies, by kernel class:
* extraction kernels — queries run over text deterministically ENRICHED
  from ``documents`` with known field snippets built from ``doc_id``, so
  DuckDB computes the expected extractions INDEPENDENTLY (from doc_id
  arithmetic), never by re-running the kernel. Byte-identity with the
  reference extractor itself is pinned by the pytest golden suite
  (tests/test_fields_golden.py) and differential fuzzing.
* hash kernels — the hash functions are chosen to be replayable in SQL:
  simhash uses DuckDB's own md5_number_lower as its token hash; winnowing
  uses a codepoint-polynomial Horner hash; SRP-LSH planes and IVF
  centroids are seeded constants EMBEDDED as literals into generated SQL
  (same trick as the langid profile oracle), so DuckDB re-runs the whole
  algorithm from scratch.
* iterative operators — dedup clustering is replayed with a recursive-CTE
  transitive walk.
Property-based kernel↔SQL parity guards live in tests/test_sql_parity.py.

A function that runs in a Spark task is pickled by value only when it is
nested, and executors cannot import this package: a helper that a task
calls stays nested or lives in ``ocr_system_spark``.
"""
