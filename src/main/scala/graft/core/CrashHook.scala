package graft.core

/** Test-only crash injection point for the state-mutation funnels.
  *
  * Every durable state mutation on the engine's CLEAN maintenance
  * paths flows through a handful of choke points —
  * [[graft.sources.Sinks.saveTable]] / `Sinks.writeTable` (all
  * managed-table overwrites and appends, including every `IndexSpec`
  * commit marker), the two RENAMEs + DROP inside
  * `PersistedIndex.swapIndexTable` (the crash-ordered vacuum swap),
  * `Pipeline.dropGeneration`'s table drops, the managed fold's
  * epoch-GC drop, and a streaming ingest batch's output write
  * (`ingestStore:<storeDir>`, before its store write). Each fires this
  * hook AFTER the mutation lands, so a
  * test can simulate a process death at every point where some writes
  * have landed and the rest have not — the exhaustive form of the
  * hand-picked crash-window tests (VERDICT r14 #2).
  *
  * Scope (ADVICE r15): the sweep's exhaustiveness claim covers the
  * clean-path funnels above. RECOVERY-path mutations —
  * `PersistedIndex.healIndexSwap`'s renames/drops — only execute after
  * a prior simulated crash, so a clean reference run cannot enumerate
  * them;
  * crashes INSIDE the heal are covered by the hand-written
  * heal-window tests (DedupSpec's rename-to-repair cases), not the
  * ordinal sweep.
  *
  * Production cost: one volatile read per TABLE WRITE (not per row,
  * not per task — these are driver-side maintenance operations that
  * each write a whole table), `None` outside tests. The hook runs on
  * the driver only; a simulated crash is a thrown exception
  * propagating out of the maintenance call, which is exactly what a
  * driver death looks like to the on-disk state.
  */
object CrashHook {
  @volatile private var hook: Option[String => Unit] = None

  /** Arm the hook (tests only). `f` receives a `site` label of the
    * form `kind:table` and may throw to simulate a crash immediately
    * after that mutation landed.
    */
  private[graft] def arm(f: String => Unit): Unit = hook = Some(f)

  private[graft] def disarm(): Unit = hook = None

  /** Called by the mutation funnels after each durable write/rename/
    * drop. No-op unless armed.
    */
  def fire(site: String): Unit = {
    val h = hook
    if (h.isDefined) h.get(site)
  }
}
