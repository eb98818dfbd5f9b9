/** graft — a Spark-native analytics engine with the capability envelope of
  * `alxmancilla/parquet-demo`, widened to the declared query surface of
  * SURVEY.md §2.
  *
  * Layout:
  *  - [[graft.sources]] — Parquet/CSV/JSON/ORC I/O, schema inference, the
  *    §1.4 coercion rules, deterministic generators, document sinks/sources
  *    with batched + bulk-upsert + streaming ingest (SURVEY §2.1–§2.2).
  *  - [[graft.queries]] — the declared operator inventory: one `QueryDef`
  *    (Spark plan + DuckDB oracle SQL) per operator, grouped as
  *    relational / analytic / event / text / dedup / similarity /
  *    multimodal (SURVEY §2.3, §2.7).
  *  - [[graft.queries.vector]] — the kNN-graph family: `KnnGraph.plan`
  *    over a candidate strategy (sign-LSH buckets or IVF cells) and an
  *    optional NN-Descent refinement, its DuckDB replay, and the one
  *    build table behind the `sim_knn_graph*` rows and their recall
  *    audit.
  *  - [[graft.streaming]] — Structured Streaming forms (windows, sessions,
  *    dedup-within-watermark, stream-stream interval join,
  *    `mapGroupsWithState`), each converging to its batch oracle
  *    (SURVEY §2.4).
  *  - [[graft.functions]] — codegen'd Catalyst expressions (`vec_dot`,
  *    `vec_dist2`, `minhash_sig`) + SQL registration via
  *    `GraftExtensions` (SURVEY §2.5).
  *  - [[graft.operators]] — scale utilities: as-of join, salting,
  *    bucketing, typed top-k aggregator, and `Staged` (a result plus the
  *    stages it reads, materialized and released together).
  *
  * Runtime mains: [[graft.Verify]] (correctness dump for the oracle gate),
  * [[graft.Bench]] (one-line JSON benchmark), [[graft.Plans]] (plan dump
  * for PLANS.md), [[graft.ScaleProbe]] (×m corpus scaling measurements),
  * [[graft.Probe21]] (per-query job/stage/task attribution),
  * [[graft.Demo]] (the reference's example modes).
  */
package object graft
