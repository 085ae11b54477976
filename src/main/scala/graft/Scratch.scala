package graft

import java.nio.file.{Files, Path, Paths}

/** Per-process scratch-directory management.
  *
  * Every temp directory the engine creates (sink round-trips, table-
  * maintenance fixtures, warehouse dirs in tests) lives under ONE
  * per-process root `/tmp/graft-run-<pid>`, recursively deleted by a
  * single shutdown hook. Before r16, each site called
  * `Files.createTempDirectory("graft_*")` with no deletion; long
  * sessions accumulated hundreds of stale dirs (~800 observed once)
  * and inflated bench wall-clock ~30% — the filesystem was being
  * measured, not the code. Rooting everything per-process makes any
  * single run self-cleaning, and [[sweepStale]] (called at Bench /
  * Verify / Probe startup) reclaims debris from crashed runs
  * whose hook never fired.
  *
  * NOT swept: the persistent cross-process caches that are pure
  * functions of the test data — `graft-sf*` (ScaleData replicas) and
  * `graft-fixtures` (wiki XML fixtures). Those are bounded (one per
  * data fingerprint) and deliberately outlive the JVM.
  */
object Scratch {
  private val tmp: Path =
    Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"))

  /** The per-process scratch root; created lazily, deleted on JVM exit. */
  lazy val root: Path = {
    val r = tmp.resolve(s"graft-run-${ProcessHandle.current().pid()}")
    Files.createDirectories(r)
    sys.addShutdownHook {
      org.apache.commons.io.FileUtils.deleteQuietly(r.toFile)
    }
    r
  }

  /** Spark scratch (blockmgr spill, broadcast files) for this process,
    * under the per-process root so the exit hook / sweepStale reclaim
    * it. Without this, `spark.local.dir` defaults to /tmp and a
    * crashed run leaves its spill behind unswept — a dead ktruss ×100
    * probe left 37 GB of blockmgr files and the NEXT probe died on
    * "No space left on device" (r17). [[GraftSession.build]] sets it
    * as `spark.local.dir`. */
  def sparkLocalDir: String = dir("spark_local").toString

  /** A fresh unique directory under the per-process root. Callers do
    * NOT delete it per-query: lazily-built frames re-read their dir on
    * every action (bench times each query twice), so per-query deletion
    * would break re-execution; the exit hook reclaims everything at
    * once and the within-run population is bounded by #queries × runs. */
  def dir(prefix: String): Path =
    Files.createTempDirectory(root, s"graft_$prefix")

  private def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  /** Reclaim scratch debris from runs that are no longer alive:
    *  - `graft-run-<pid>` roots whose pid is dead (crashed runs);
    *  - legacy top-level `graft_*` / `graft-wh*` dirs older than this
    *    JVM's start (pre-r16 binaries created them unrooted; nothing
    *    creates them any more, so this converges to zero debris while
    *    never racing a live process's fresh dirs).
    * Persistent caches (graft-sf*, graft-fixtures) are never touched.
    * Errors are swallowed — a sweep must never fail the run it is
    * trying to keep honest. */
  def sweepStale(): Unit = try {
    val jvmStart = ProcessHandle.current().info().startInstant()
      .map(_.toEpochMilli).orElse(System.currentTimeMillis())
    val entries = Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
    entries.foreach { f =>
      val n = f.getName
      try {
        if (n.startsWith("graft-run-")) {
          val pid = n.stripPrefix("graft-run-")
          if (pid.nonEmpty && pid.forall(_.isDigit)) {
            // pid-liveness test, with precise pid-reuse detection
            // (r17 ADVICE): the true owner created the root AFTER it
            // started, so owner.start <= root.creation <= root.mtime.
            // A live process whose startInstant is LATER than the
            // root's mtime (plus clock slack) cannot be the owner —
            // the pid was reused and the root is debris. A live run
            // whose process predates its root is never deleted, no
            // matter how long it has been alive (×100 probe rows now
            // reach hour scale, so the old >24h age backstop could
            // have deleted a live run's spark.local.dir mid-flight).
            val ph = ProcessHandle.of(pid.toLong)
            val alive = ph.map[java.lang.Boolean](_.isAlive)
              .orElse(java.lang.Boolean.FALSE)
            val pidReused: Boolean = alive && {
              val start = ph.get().info().startInstant()
              // no start time readable → conservative: treat as owner
              start.isPresent &&
                start.get().toEpochMilli > f.lastModified() + 60000L
            }
            if ((!alive || pidReused) && f.getPath != root.toString)
              deleteTree(f.toPath)
          }
          // non-numeric suffix: not ours to judge — skip, never delete
          // (r16 ADVICE: the old code classified these as dead)
        } else if ((n.startsWith("graft_") || n.startsWith("graft-wh")) &&
                   f.isDirectory && f.lastModified() < jvmStart) {
          deleteTree(f.toPath)
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  } catch { case scala.util.control.NonFatal(_) => () }
}
