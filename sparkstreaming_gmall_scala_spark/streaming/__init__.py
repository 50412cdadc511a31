"""Structured Streaming forms of the reference's nine DStream apps.

The reference hand-manages Kafka offsets in Redis/MySQL and keeps all
operator state in external Redis with TTLs (SURVEY.md §2.9). Structured
Streaming replaces that entire subsystem: checkpointing owns offsets and
state recovery atomically; watermarks own TTL eviction.

Modules:
  sources.py          - streaming sources (file for tests, kafka gated)
  dau.py              - A2 streaming distinct (watermark +
                        dropDuplicatesWithinWatermark)
  join.py             - J1 watermarked stream-stream join
  allocation.py       - A4 stateful allocation (pandas state, one group)
  pipelines.py        - the nine reference apps as wired pipelines
  dedup.py            - incremental LSH dedup over a persisted band index
                        (minhash / simhash-limb / embedding-hyperplane
                        banders behind one generic pipeline)
  corpus.py           - streaming corpus ingest: gopher filter →
                        decontaminate → PII mask → cross-batch exact
                        dedup against an append-only fingerprint index
  rollup.py           - W3 watermarked tumbling-window aggregate
                        (append-once per closed window, late rows drop)
  sessions.py         - session_window sessionization
  ann.py              - incremental IVF ANN ingest: frozen-centroid cell
                        assignment per batch into a cell-partitioned
                        append-only index; probes ≡ batch ivf_build
  curate.py           - ingest + near-dup + substring-dup candidates in
                        one checkpointed pipeline
  select.py           - streaming DSIR selection against a frozen,
                        persisted bucket model
  cms.py              - count-min partials (additive cell monoid)
  histogram.py        - frozen-bounds histogram partials
  hll.py              - per-day HLL sketch partials (register-max merge)
  sketchmart.py       - one stream → all three sketch indexes
  quantile.py         - p50/p95/p99 report off the histogram index
  scd2.py             - SCD2 dim maintenance: observation log +
                        touched-key rebuild + crash-atomic upsert
  ohlc.py             - algebraic OHLC partial bars
  funnel.py           - exact-under-late-data funnel/retention marts
  vocab.py            - additive token/pair count partials
"""
