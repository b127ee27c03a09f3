package graft.operators

/** Driver-side memo for TRAINED model artifacts (IVF centroids, PQ
  * codebooks) shared between a self-contained query and its serve
  * twin. Training here is fully deterministic (fixed seeds vec_id <
  * kCodes, fixed rounds, round-6 means — no RNG), so a cache hit is
  * bit-identical to a fresh train: memoization changes COST, never
  * results. This models the production architecture directly — train
  * once, keep the O(k·m) model as driver state, serve many — instead
  * of re-running Lloyd per invocation on both members of a pair.
  *
  * Scope: only plain Scala model data lives here (a few KB per entry),
  * NEVER DataFrames — Verify/Bench unpersist all RDDs between queries,
  * which would invalidate a cached checkpointed frame but cannot touch
  * driver-side Seqs. Keys embed the corpus path + hyperparameters, so
  * distinct scale factors never collide.
  */
object ModelCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  def memo[T <: AnyRef](key: String)(build: => T): T =
    cache.computeIfAbsent(key, _ => build).asInstanceOf[T]

  /** THE key builder — every memo entry keyed to a corpus dir must be
    * built through this, so [[evictCorpus]] and the memo callers can
    * never disagree on path spelling (round-19 advice: a trailing
    * slash on one side used to make eviction silently miss). */
  def key(corpusDir: String, suffix: String): String =
    normalize(corpusDir) + "#" + suffix

  /** Trailing path separators stripped — "…/sf0.01" and "…/sf0.01/"
    * name the same corpus, so they must build (and evict) the same
    * entries. Deliberately NOT a filesystem canonicalization (no
    * symlink resolution/IO): keys must be cheap and deterministic. */
  private def normalize(dir: String): String = {
    var d = dir
    while (d.length > 1 && (d.endsWith("/") || d.endsWith("\\"))) d = d.dropRight(1)
    d
  }

  /** Test hook: specs clear the memo to start from a known state. */
  def clear(): Unit = cache.clear()

  /** Growth bound: entries are NEVER reused across corpus dirs (the
    * dir is in every key), so a long-lived driver serving many
    * corpora accumulates O(corpora × model families) small Seqs —
    * ~10 entries of a few KB per corpus for the current families.
    * Verify/Bench sessions touch a single corpus dir, so the bound is
    * a constant there; a resident multi-corpus driver evicts a
    * retired corpus's entries here when it switches or drops one.
    * The prefix match normalizes the dir exactly as [[key]] does, so
    * a path-spelling variant cannot make eviction miss. */
  def evictCorpus(corpusKey: String): Unit =
    cache.keySet.removeIf(_.startsWith(normalize(corpusKey) + "#"))
}
