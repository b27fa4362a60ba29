package graft.operators

/** Process-wide data-dir context for dump-only oracle fallbacks: the
  * CLI mains (Verify/Bench) pin it to the run's sf dir at startup, so
  * an `OracleModelCache.oracleModel` evaluated WITHOUT its query
  * having run (SPARK_GRAFT_VERIFY_ONLY subsets, ad-hoc dumps) still
  * trains on this run's data instead of a hardcoded default — and any
  * nested trainer it triggers lands on the same dir as the queries
  * that did run. */
object OracleContext {
  private[graft] val dir =
    new java.util.concurrent.atomic.AtomicReference[String]()
}
