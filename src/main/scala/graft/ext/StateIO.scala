package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared IO discipline for the six persisted-state pillars declared in
  * [[StatePillar]] (LSH text state, fingerprints, term-bucketed postings,
  * tokenizer counts, stats sketches, IVF vectors) and the kNN graph state.
  *
  * Two hazards every state reader/writer shares:
  *
  *  1. **Catch-all reads flip failures into "no state yet".** Wrapping a
  *     state read in `Try(...).toOption` treats a transient FS error, a
  *     corrupt footer, or a compaction's rename window exactly like a
  *     fresh directory — the caller then silently re-enters first-batch
  *     mode (retraining centroids, accepting a whole batch undeduped,
  *     rebuilding reps from one batch), permanently corrupting the state.
  *     Only the engine's PATH_NOT_FOUND condition means "doesn't exist";
  *     everything else must propagate so an at-least-once orchestrator
  *     retries the batch. [[readIfExists]] encodes that.
  *
  *  2. **Compaction-crash remnants look like fresh or partial dirs.** The
  *     backup-swap rename ([[Dedup.compactStateTables]]) can crash between
  *     its two renames, leaving `<table>__compact_bak` present and the
  *     live table stale or missing. A write that doesn't look for the
  *     backup happily writes over the wreckage (or retrains from scratch).
  *     [[checkNoCompactRemnants]] fails fast with the recovery step
  *     instead; every pillar's append, delete, compact, recluster and
  *     truncate entry runs it first ([[StatePillar.checkWritable]]).
  *
  * ==Filesystem contract (read this before deploying)==
  *
  * The DEFAULT commit protocol ([[swapInTables]]' rename branch, the
  * compaction backup-swap, the floor/lease marker publishes) assumes
  * `fs.rename` is ATOMIC and `fs.create(path, overwrite = false)` is
  * atomic-exclusive. True on HDFS and local filesystems (the tested
  * substrates). **False on S3-class object stores**, where rename is
  * copy+delete — a reader can observe the copy half-done, and the
  * single-commit-point guarantee silently weakens to best-effort.
  *
  * For object stores, switch the state dir to MANIFEST commits
  * ([[enableManifestCommits]]): content rewrites then land in fresh
  * versioned directories (pure creates — no data-dir rename ever
  * happens) and the commit point is ONE small `_versions` file naming
  * the live directory of every table, published by overwrite — a
  * single small-object PUT, which object stores apply atomically
  * (readers see the whole old pointer file or the whole new one,
  * never a mix). Every read path resolves through [[tablePath]], so
  * the flip is invisible to queries. Crash anywhere before the
  * pointer write: the full OLD fit (staged version dirs are garbage,
  * reclaimed by [[vacuumStateVersions]]). Crash after: the full NEW
  * fit. There is no in-between and no roll-forward to run.
  *
  * The WRITER LEASE rests on the same exclusive-create assumption —
  * routed through the [[LeaseStore]] seam: the default is Hadoop's
  * `create(path, false)` (atomic on HDFS/local); S3-class deployments
  * plug a conditional-PUT (`If-None-Match: *`) store, and the lease
  * spec proves the acquire admits exactly one of two racing writers
  * given ONLY that primitive — a store whose plain create is
  * last-writer-wins gets no exclusivity from the default. Version GC
  * carries the classic vacuum-reader race (a query that resolved
  * [[tablePath]] before a swap still scans the superseded dir);
  * `vacuumStateVersions(graceMs)` is the retention guard.
  */
private[graft] object StateIO {

  /** Read a parquet state table, distinguishing "not created yet" (None)
    * from every other failure (rethrown). PATH_NOT_FOUND is the only
    * condition that means absence; rethrowing the rest is what keeps an
    * at-least-once replay loop safe — the micro-batch crashes and
    * retries instead of silently degrading to first-batch behavior. */
  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] =
    try Some(spark.read.parquet(path))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" => None
    }

  /** Fail-fast write guard against crash remnants, shared by every state
    * write entry (append, delete, compact, recluster, truncate, clone and
    * fast-forward sources): a `<table>__compact_bak` directory means a
    * previous [[Dedup.compactStateTables]] crashed between its two
    * renames — the live table may be stale, partial, or missing, and a
    * write over that silently corrupts the state (e.g. a missing
    * `centroids` table would retrain k-means and invalidate every
    * existing cell assignment). Restore the backup first. Also refuses a
    * dir mid-swap or mid-catch-up ([[checkNoSwapInProgress]]). */
  def checkNoCompactRemnants(
      spark: SparkSession, dir: String, tables: Seq[String]): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    tables.foreach { t =>
      val bak = new org.apache.hadoop.fs.Path(dir, s"${t}__compact_bak")
      val fs = bak.getFileSystem(hconf)
      require(!fs.exists(bak),
        s"found $bak — a compaction crashed mid-swap; restore it over " +
          s"$dir/$t (verify contents first) before writing to the state")
    }
    checkNoSwapInProgress(spark, dir)
  }

  /** Name of the commit-marker file a [[swapInTables]] publishes between
    * staging and applying. While it exists the state dir may mix old and
    * new table fits — every reader and every write entry point
    * fails fast on it until [[recoverSwap]] rolls the swap forward. */
  private[graft] val SwapCommitMarker = "_swap_commit"

  /** Thrown by [[swapInTables]]' fault-injection hook (`crashAfterApplied`)
    * — a DETERMINISTIC stand-in for a process crash mid-swap, so the
    * crash-recovery contract is gateable (the x127 gate and the StateIO
    * specs catch exactly this type and then run [[recoverSwap]]). */
  private[graft] final class InjectedCrash(applied: Int)
    extends RuntimeException(
      s"fault injection: simulated crash after $applied applied table swap(s)")

  /** Fail fast if a multi-table swap committed but did not finish
    * applying ([[swapInTables]] crashed after publishing its marker), or
    * if a branch catch-up ([[fastForwardState]]) is mid-apply. Shared by
    * [[checkNoCompactRemnants]] (all append/delete/compact entry points)
    * and the state READ paths: between a swap marker and the last rename
    * the dir can pair NEW tables with OLD ones (e.g. reclustered
    * centroids over cells assigned under the old geometry — cid values
    * silently refer to different clusters), and between a fast-forward's
    * marker and its last table the dir can pair caught-up appends with
    * the branch point's delete set — neither is any version that ever
    * existed, so nothing may read until the roll-forward completes. */
  def checkNoSwapInProgress(spark: SparkSession, dir: String): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val marker = new org.apache.hadoop.fs.Path(dir, SwapCommitMarker)
    val fs = marker.getFileSystem(hconf)
    require(!fs.exists(marker),
      s"found $marker — a multi-table swap (recluster) committed but did " +
        "not finish applying; run StateIO.recoverSwap (the CLI's `state " +
        "recover <pillar> <dir>`, StatePillar.recover) to roll it " +
        "forward before touching the state")
    val ff = new org.apache.hadoop.fs.Path(dir, FfPendingMarker)
    require(!fs.exists(ff),
      s"found $ff — a branch catch-up (fastForward) started but did not " +
        "finish; re-run it (the CLI's `state fastforward <pillar> <src> " +
        "<dst>`, StatePillar.fastForward) to complete it before touching " +
        "the state")
  }

  /** Name of the lease file [[withWriterLock]] holds while a mutating
    * entry point runs. Every guard before round 15 assumed the OTHER
    * writer was dead (crash remnants, swap markers); this one refuses a
    * LIVE concurrent writer — two appends, an append racing a
    * truncation, a compact racing a recluster — whose interleaved
    * partition overwrites and table swaps no marker protocol can
    * untangle after the fact. */
  private[graft] val WriterLockFile = "_writer_lock"

  /** Default writer-lease duration. A LIVE writer renews the lease
    * every third of this window (heartbeat inside [[withWriterLock]]),
    * so the window no longer bounds how long a mutating call may run —
    * it bounds how long a CRASHED writer's lock survives before
    * takeover: the same hour, not the same week. */
  private[graft] val DefaultLeaseMs: Long = 30L * 60L * 1000L

  /** Dirs whose writer lock THIS thread currently holds (qualified
    * URIs) — reentrancy: a pillar's truncate calls [[swapInTables]],
    * an orchestrator's ingest calls five pillar appends on distinct
    * dirs; same-dir nesting on the same thread must not self-deadlock,
    * while a SECOND thread in the same JVM is still a second writer
    * and gets refused by the lock file like any other process. */
  private val heldLocks = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue() = scala.collection.mutable.Set.empty[String]
  }

  /** Thrown when a mutating entry point finds another writer's live
    * lease on the state dir. Carries enough to decide: wait for
    * `expiresAtMs`, or (if the owner is known dead) delete the lock
    * file by hand — the documented manual-takeover path. */
  final class ConcurrentWriter(
      val dir: String, val owner: String, val expiresAtMs: Long)
    extends IllegalStateException(
      s"another writer holds the lease on $dir: '$owner' until " +
        s"${java.time.Instant.ofEpochMilli(expiresAtMs)} — concurrent " +
        "mutation would interleave partition overwrites and table " +
        "swaps; retry after the lease expires (stale leases are taken " +
        "over automatically), or delete " + s"$dir/$WriterLockFile " +
        "by hand ONLY if the owner process is known dead")

  /** Run `body` holding the state dir's single-writer lease.
    *
    * Every mutating entry point of every pillar (append, delete,
    * compact, truncate, recluster, recover; clone holds the SOURCE's
    * lease — the destination is a fresh create nothing else can name)
    * wraps itself in this. The crash-remnant guards
    * ([[checkNoCompactRemnants]], [[checkNoSwapInProgress]]) protect
    * against writers that DIED; this lease is the missing guard against
    * writers that are still ALIVE — exactly what an at-least-once
    * orchestrator's concurrent retry produces.
    *
    * Protocol: exclusive-create of [[WriterLockFile]] (owner + expiry
    * epoch-millis). Exists + unexpired → [[ConcurrentWriter]]. Exists +
    * expired → stale takeover: delete and re-create (the re-create is
    * exclusive again, so two racing takeovers serialize — the loser
    * sees the winner's fresh lease and refuses). Orderly completion —
    * normal return OR exception — releases the lock in `finally`: a
    * thrown [[InjectedCrash]] or a failed job is an orderly failure
    * with the remnant/marker protocols owning recovery; only a real
    * process death leaves the lease, and the expiry bounds that.
    *
    * FS contract: exclusive create must be atomic (true on HDFS and
    * local FS; object stores need an if-none-match PUT — see the
    * object-store posture note in this file's header). */
  /** The one primitive the writer lease rests on: atomically create
    * `path` with `content` IFF it does not exist — true on the winner,
    * false on every loser, never both-true. The SEAM that makes the
    * lease object-store-portable: Hadoop's `fs.create(path, false)` is
    * atomic-exclusive on HDFS and local FS ([[HadoopLeaseStore]], the
    * default), while S3-class stores back it with a conditional PUT
    * (`If-None-Match: *` — supported by S3/GCS/Azure) through their own
    * [[LeaseStore]]. A store whose PLAIN create is last-writer-wins
    * (both racing creates "succeed") MUST NOT route it here unwrapped —
    * the lease spec proves the contract with a CAS-backed fake exactly
    * because that substrate exists. */
  private[graft] trait LeaseStore {
    def createExclusive(
        fs: org.apache.hadoop.fs.FileSystem,
        path: org.apache.hadoop.fs.Path, content: String): Boolean

    /** Conditionally REPLACE (or, with `content = None`, delete) the
      * lease at `path` IFF its current owner token equals
      * `expectedOwner` — the compare-and-swap every post-acquisition
      * lease mutation (heartbeat renewal, orderly release, stale
      * takeover's delete) routes through. `Right(())` on success;
      * `Left(actual)` when the compare failed — `Left(None)` means the
      * file is gone, `Left(Some(owner))` names the owner observed
      * (the sentinel `"mid-write"` for a half-visible file).
      *
      * Why a CAS and not a plain overwrite: the round-17 renewal was
      * check-then-act (read owner, then `create(path, true)` + write).
      * That had two real races: (a) the truncate-then-write pair let a
      * concurrent release read a TORN file and throw a spurious
      * takeover (observed failing under full-suite load); (b) a
      * renewer that stalled past the lease window (long GC), got taken
      * over, and then woke would clobber the NEW writer's lock with a
      * stale lease — the exact interleaving the fencing comment
      * claimed to prevent.
      *
      * Default implementation (below): the read-compare-publish runs
      * under a sibling exclusive-create MUTEX file (`<path>.cas`), so
      * two conditional mutations never interleave, and the publish is
      * tmp + OVERWRITE-rename ([[publishSmallFile]] discipline), so a
      * torn lock file can never be OBSERVED. Residual window on the
      * default substrate: a holder that stalls inside the mutex longer
      * than [[CasMutexStaleMs]] can have the mutex stolen (crash
      * recovery) and then complete its publish — seconds-scale, vs the
      * whole lease window before. Object stores override with a true
      * conditional PUT (`If-Match` on the read ETag), which closes it
      * exactly. Throws [[java.io.IOException]] when the mutex stays
      * busy past a bounded wait — callers treat that as transient
      * (renewal retries next tick; release retries in its loop). */
    def replaceIfOwner(
        fs: org.apache.hadoop.fs.FileSystem,
        path: org.apache.hadoop.fs.Path, expectedOwner: String,
        content: Option[String]): Either[Option[String], Unit] = {
      val raw = lockFs(fs)
      val mx = new org.apache.hadoop.fs.Path(
        path.getParent, path.getName + CasMutexSuffix)
      val deadline = System.currentTimeMillis() + CasMutexWaitMs
      var held = false
      while (!held) {
        if (createExclusive(fs, mx, "cas")) held = true
        else {
          val stale =
            try fs.getFileStatus(mx).getModificationTime <
              System.currentTimeMillis() - CasMutexStaleMs
            catch { case _: java.io.FileNotFoundException => false }
          if (stale) fs.delete(mx, false) // crashed holder — steal
          else if (System.currentTimeMillis() > deadline)
            throw new java.io.IOException(
              s"lease CAS mutex $mx busy past ${CasMutexWaitMs}ms")
          else Thread.sleep(50)
        }
      }
      try {
        val cur: Option[String] =
          try {
            val in = raw.open(path)
            val s =
              try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
            val lines = s.split("\n")
            if (lines.length >= 2 &&
                scala.util.Try(lines(1).trim.toLong).isSuccess)
              Some(lines(0).trim)
            else Some("mid-write")
          } catch {
            case _: java.io.FileNotFoundException => None
          }
        cur match {
          case Some(o) if o == expectedOwner =>
            content match {
              case Some(c) =>
                val tmp = new org.apache.hadoop.fs.Path(
                  path.getParent, path.getName + "__renew_tmp")
                raw.delete(tmp, false)
                val out = raw.create(tmp, true)
                try out.write(
                  c.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                finally out.close()
                // atomic REPLACE of the lock: on the raw local FS this is
                // rename(2) — the destination always holds either the old
                // or the new content, never nothing and never a tear. The
                // checksummed wrapper CANNOT provide that (it renames the
                // file and its .crc sidecar as two ops — a reader between
                // them gets a ChecksumException), which is why every lock
                // mutation goes through lockFs. Non-local substrates keep
                // the FileContext OVERWRITE rename (atomic on HDFS).
                // RawLocalFileSystem.rename returns false on failure
                // instead of throwing (unlike the FileContext OVERWRITE
                // rename) — a swallowed false here would treat a failed
                // renewal as success and let the lease silently lapse
                // mid-write, permitting a second writer
                if (raw ne fs)
                  require(raw.rename(tmp, path),
                    s"lock replace failed: $tmp -> $path")
                else
                  org.apache.hadoop.fs.FileContext
                    .getFileContext(path.toUri, fs.getConf)
                    .rename(tmp, path,
                      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
              // delete through the CHECKSUMMED fs so a .crc sidecar left
              // by a foreign checksummed create (a dead writer's lock) is
              // removed with its file
              case None => fs.delete(path, false)
            }
            Right(())
          case other => Left(other)
        }
      } finally fs.delete(mx, false)
    }
  }

  /** Lock-file I/O bypasses the checksummed local-FS wrapper: ChecksumFS
    * keeps a `.crc` sidecar per file and renames/creates the pair as TWO
    * operations, so no atomic replace of a lock file is possible through
    * it (a reader between the two sees a ChecksumException — observed in
    * the heartbeat spec). The raw local FS gives rename(2) = atomic
    * replace; checksums buy nothing for a ~100-byte lease file. Non-local
    * substrates pass through unchanged. */
  private[graft] def lockFs(fs: org.apache.hadoop.fs.FileSystem)
      : org.apache.hadoop.fs.FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  /** Sibling-mutex suffix for the default [[LeaseStore.replaceIfOwner]]
    * (see its doc). */
  private[graft] val CasMutexSuffix = ".cas"
  /** A CAS mutex older than this is a crashed holder's remnant — stolen. */
  private[graft] val CasMutexStaleMs = 10000L
  /** Bounded wait for a busy CAS mutex before reporting transient. */
  private[graft] val CasMutexWaitMs = 5000L

  /** Default [[LeaseStore]]: Hadoop exclusive create (atomic on HDFS
    * and local FS — the tested substrates). */
  private[graft] object HadoopLeaseStore extends LeaseStore {
    override def createExclusive(
        fs: org.apache.hadoop.fs.FileSystem,
        path: org.apache.hadoop.fs.Path, content: String): Boolean =
      try {
        // raw FS (see [[lockFs]]): a checksummed create writes a .crc
        // sidecar whose later atomic replacement is impossible
        val out = lockFs(fs).create(path, false)
        try out.write(
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch {
        case _: java.io.IOException => false // lost the create race
      }
  }

  /** The active lease primitive — deployments on conditional-PUT object
    * stores (and the lease specs) swap this. */
  @volatile private[graft] var leaseStore: LeaseStore = HadoopLeaseStore

  private[graft] def withWriterLock[T](
      spark: SparkSession, dir: String,
      leaseMs: Long = DefaultLeaseMs)(body: => T): T = {
    val hconf = spark.sessionState.newHadoopConf()
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(hconf)
    val key = fs.makeQualified(dirPath).toString
    if (heldLocks.get.contains(key)) return body // reentrant on this thread
    val lock = new org.apache.hadoop.fs.Path(dir, WriterLockFile)
    val token = s"${java.net.InetAddress.getLocalHost.getHostName}:" +
      s"pid=${ProcessHandle.current().pid()}:" +
      s"thread=${Thread.currentThread().getId}:" +
      java.util.UUID.randomUUID().toString
    fs.mkdirs(dirPath)
    def readLease(): Option[(String, Long)] =
      try {
        val in = fs.open(lock)
        val s =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val lines = s.split("\n")
        // a HALF-VISIBLE lock — the winner mid-write on an FS without
        // atomic create-with-content visibility, or a writer that died
        // between create and write — parses as a live lease expiring one
        // window after the file's mtime: racing acquirers refuse NOW
        // (never crash on the torn read), and a truly dead half-writer
        // is taken over once the window passes
        if (lines.length < 2) Some(("mid-write",
          fs.getFileStatus(lock).getModificationTime + leaseMs))
        else
          try Some((lines(0).trim, lines(1).trim.toLong))
          catch { case _: NumberFormatException => Some(("mid-write",
            fs.getFileStatus(lock).getModificationTime + leaseMs)) }
      } catch {
        case _: java.io.FileNotFoundException =>
          // the default CAS publish is tmp + OVERWRITE-rename, and the
          // local-FS rename is delete-then-rename: a reader can land in
          // the gap where the lock file is briefly ABSENT mid-renewal.
          // The CAS mutex brackets every mutation, so "file missing but
          // mutex present" means a replace is in flight — treat it as a
          // live mid-write lease (refuse now), never as a free lock: an
          // exclusive create in that gap would be silently clobbered by
          // the in-flight rename, yielding two writers.
          val mx = new org.apache.hadoop.fs.Path(
            lock.getParent, lock.getName + CasMutexSuffix)
          try Some(("mid-write",
            fs.getFileStatus(mx).getModificationTime + leaseMs))
          catch { case _: java.io.FileNotFoundException => None }
      }
    var acquired = false
    var attempts = 0
    while (!acquired && attempts < 3) {
      attempts += 1
      readLease() match {
        case Some((owner, exp))
            if exp > System.currentTimeMillis() =>
          throw new ConcurrentWriter(dir, owner, exp)
        case Some((owner, _)) =>
          // stale — CONDITIONAL takeover through the CAS seam: an
          // unconditional delete could kill a lease published between
          // our read and our delete (a racing acquirer's fresh create,
          // a heartbeat renewal we raced); the conditional delete only
          // removes the exact stale lease we read, and the exclusive
          // create below still decides the winner between racing
          // takeovers
          try leaseStore.replaceIfOwner(fs, lock, owner, None)
          catch { case _: java.io.IOException => () } // mutex busy — loop re-reads
        case None => ()
      }
      // exclusive create IS the acquisition: on a race, exactly one
      // create succeeds and the losers loop back into readLease. The
      // create itself goes through the LeaseStore seam — substrates
      // without an atomic exclusive create (pre-conditional-PUT object
      // stores) plug their own CAS primitive there
      if (leaseStore.createExclusive(fs, lock,
          s"$token\n${System.currentTimeMillis() + leaseMs}\n"))
        acquired = true
    }
    if (!acquired) {
      val (owner, exp) = readLease().getOrElse(("unknown", 0L))
      throw new ConcurrentWriter(dir, owner, exp)
    }
    heldLocks.get += key
    // HEARTBEAT RENEWAL: a write longer than the lease window used to be
    // taken over MID-RUN (detected loudly at release, but not prevented) —
    // exactly what a 100 TB append risks. A live writer now re-publishes
    // its lease every third of the window, so expiry passes only when the
    // renewer is genuinely dead (process gone → takeover still wins, as
    // before). Renewal is a conditional replace through the LeaseStore
    // CAS seam ([[LeaseStore.replaceIfOwner]]): the compare and the
    // publish are one atomic step, so (a) a concurrent reader can never
    // observe a torn lock file (the round-17 truncate-then-write race
    // that threw spurious takeovers at release), and (b) a renewer that
    // stalled past the window (long GC), got taken over, and then woke
    // is REFUSED — it can no longer clobber the new writer's lock.
    val stopRenew = new java.util.concurrent.atomic.AtomicBoolean(false)
    val renewEvery = math.max(100L, leaseMs / 3)
    val renewer = new Thread(new Runnable {
      override def run(): Unit = try {
        var live = true
        while (live && !stopRenew.get()) {
          Thread.sleep(renewEvery)
          if (!stopRenew.get()) {
            try leaseStore.replaceIfOwner(fs, lock, token,
              Some(s"$token\n${System.currentTimeMillis() + leaseMs}\n")) match {
              case Right(()) => ()
              case Left(_) => live = false // taken over or released — stop; release reports
            } catch {
              case _: java.io.IOException => () // transient (mutex busy) — retry next tick
            }
          }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lease-renewer:$dir")
    renewer.setDaemon(true)
    renewer.start()
    var primary: Throwable = null
    try body
    catch { case t: Throwable => primary = t; throw t }
    finally {
      stopRenew.set(true)
      renewer.interrupt()
      renewer.join(10000)
      heldLocks.get -= key
      // release only OUR lease: if it expired mid-run and a takeover
      // happened, deleting would kill the new writer's lock — leave it
      // and surface the overrun loudly (the write may have interleaved).
      // The delete is the same conditional replace the renewer uses, so
      // it can never race a renewal or a takeover; a "mid-write" owner
      // (someone else's create caught half-visible) is retried briefly
      // before concluding takeover — our own publishes are atomic, so
      // a PERSISTENT mid-write really is a foreign writer. When the
      // BODY already failed, the takeover report attaches as a
      // suppressed exception instead of masking the original failure.
      try {
        var done = false
        var attempts = 0
        while (!done) {
          attempts += 1
          (try leaseStore.replaceIfOwner(fs, lock, token, None)
           catch {
             case _: java.io.IOException if attempts < 10 =>
               Left(Some("mid-write")) // mutex busy — same retry path
           }) match {
            case Right(()) => done = true
            case Left(None) => done = true // gone — nothing left to release
            case Left(Some("mid-write")) if attempts < 10 =>
              Thread.sleep(100) // half-visible foreign create — re-read
            case Left(Some(owner)) =>
              throw new IllegalStateException(
                s"writer lease on $dir expired mid-run and was taken " +
                  s"over by '$owner' — this write may have interleaved " +
                  "with theirs; audit the state (StateAudit) before " +
                  "trusting it")
          }
        }
      } catch {
        case t: Throwable if primary != null => primary.addSuppressed(t)
      }
    }
  }

  /** Name of the manifest-pointer file a state dir in MANIFEST commit
    * mode carries (see the FS-contract note in this file's header):
    * one `table=dirname` line per versioned table; the file's presence
    * is what switches [[swapInTables]] to the versioned protocol. */
  private[graft] val VersionsFile = "_versions"

  /** True iff the state dir commits content rewrites through the
    * `_versions` manifest pointer instead of directory renames. */
  def manifestMode(spark: SparkSession, dir: String): Boolean =
    pathExists(spark, s"$dir/$VersionsFile")

  /** Switch a state dir to MANIFEST commits — the object-store-safe
    * protocol (atomic rename is a local/HDFS luxury; see the header).
    * Publishing an EMPTY manifest is enough: every table resolves to
    * its plain directory until the first versioned swap moves it.
    * Call once at state-dir creation on S3-class substrates; flipping
    * an existing healthy dir is also safe (plain tables keep resolving
    * plain). Refuses mid-swap/mid-compaction dirs — a protocol switch
    * must not bury a crashed rename's recovery artifacts. */
  def enableManifestCommits(spark: SparkSession, dir: String): Unit =
    withWriterLock(spark, dir) {
      checkNoSwapInProgress(spark, dir)
      publishManifest(spark, dir, readManifest(spark, dir))
    }

  /** The manifest map (table → live dirname); empty when the file is
    * absent (plain mode) or empty (manifest mode, nothing versioned
    * yet). */
  private def readManifest(
      spark: SparkSession, dir: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(dir, VersionsFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      body.split("\n").map(_.trim).filter(_.nonEmpty).map { line =>
        val i = line.indexOf('=')
        require(i > 0, s"corrupt manifest line in $p: '$line'")
        (line.substring(0, i), line.substring(i + 1))
      }.toMap
    }
  }

  /** Publish the manifest pointer. On rename-capable filesystems this
    * uses write-tmp + overwrite-rename (atomic on HDFS/local); on an
    * object store the small single-file write IS the atomic PUT — in
    * both cases a reader sees the whole old pointer or the whole new
    * one, never a line-level mix. */
  private def publishManifest(
      spark: SparkSession, dir: String, m: Map[String, String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, VersionsFile)
    val tmp = new org.apache.hadoop.fs.Path(dir, VersionsFile + "__tmp")
    val hconf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(hconf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    fs.delete(tmp, false)
    val out = fs.create(tmp, true)
    try out.write(m.toSeq.sorted.map { case (t, d) => s"$t=$d" }
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // FileContext rename with OVERWRITE is atomic on HDFS and local FS
    // (plain FileSystem.rename refuses existing targets); object-store
    // deployments swap this publish for a direct PUT of the final path
    org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, hconf)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The LIVE directory of a state table — every read and every
    * partition-level append resolves through this: the plain
    * `$dir/$table` unless the dir's manifest points the table at a
    * versioned directory. One small-file read per call; negligible
    * against any query it fronts. */
  def tablePath(spark: SparkSession, dir: String, table: String): String =
    s"$dir/${readManifest(spark, dir).getOrElse(table, table)}"

  /** [[readIfExists]] of a STATE TABLE, resolved through the dir's
    * manifest ([[tablePath]]) — what every pillar's table read calls. */
  def readTableIfExists(
      spark: SparkSession, dir: String, table: String): Option[DataFrame] =
    readIfExists(spark, tablePath(spark, dir, table))

  /** Reclaim version directories no longer named by the manifest — the
    * garbage a crashed versioned swap (staged but never published) or
    * a completed one (published, GC interrupted) leaves. Requires the
    * writer lease so a swap can't stage new dirs mid-vacuum. Returns
    * the deleted directory names.
    *
    * THE READER RACE (the classic VACUUM-retention window, solved the
    * Delta way — with a retention period): a long-running query that
    * resolved [[tablePath]] BEFORE a versioned swap is still scanning
    * the superseded directory this call deletes. `graceMs > 0` is the
    * guard: superseded dirs are reclaimed only when the manifest's last
    * publish is older than the grace — every currently-unreferenced dir
    * was unreferenced at or before that publish, so nothing this call
    * deletes was resolvable by any reader that planned within the
    * window. Size the grace above the longest query you run (the Delta
    * default posture: hours, not seconds); `graceMs = 0` keeps the old
    * reclaim-everything behavior for quiesced/offline maintenance. */
  def vacuumStateVersions(
      spark: SparkSession, dir: String, graceMs: Long = 0L): Seq[String] =
    withWriterLock(spark, dir) {
      require(graceMs >= 0, s"graceMs must be >= 0, got $graceMs")
      require(manifestMode(spark, dir),
        s"$dir has no $VersionsFile manifest — nothing versioned to vacuum")
      val live = readManifest(spark, dir)
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
      val manifestAge = System.currentTimeMillis() - fs.getFileStatus(
        new org.apache.hadoop.fs.Path(dir, VersionsFile))
        .getModificationTime
      if (manifestAge <= graceMs) return Seq.empty // inside the window
      val versioned = "^.*__v\\d{4}$".r
      val liveDirs = live.values.toSet
      // unreferenced __vNNNN dirs (staged-then-crashed, or superseded)
      val staleVersions = fs.listStatus(dirPath).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(n => versioned.matches(n) && !liveDirs.contains(n))
      // the superseded PLAIN dir of a table the manifest has since
      // versioned (appends resolve into the version dir, never here)
      val stalePlain = live.collect {
        case (table, liveDir) if liveDir != table &&
            fs.exists(new org.apache.hadoop.fs.Path(dir, table)) => table
      }.toSeq
      (staleVersions ++ stalePlain).map { name =>
        fs.delete(new org.apache.hadoop.fs.Path(dir, name), true)
        name
      }
    }

  /** Restrict a state table to an AS-OF bound on its tag column — the
    * shared cut behind every pillar's snapshot (time-travel) read: the
    * tagged `batch_id=N` / `delete_id=N` partitions each append and
    * delete lands in for replay idempotency double as a full version
    * history, so "the state after (append B, delete D)" is a pure
    * `tag <= bound` filter on partition columns (pruned at the scan,
    * never a rebuild). Fails fast on untagged states: rows with no tag
    * carry no version identity, and silently reading them "as of"
    * anything would pin them to an arbitrary version. */
  private[ext] def asOfCut(
      df: DataFrame, tagCol: String, bound: Long,
      dir: String, table: String): DataFrame = {
    require(df.columns.contains(tagCol),
      s"as-of reads need a TAGGED state: $dir/$table has no $tagCol " +
        "partition column (untagged appends/deletes carry no version " +
        "identity) — rebuild with tagged appends/deletes to snapshot")
    // the CENTRAL floor refusal: every pillar's as-of read cuts through
    // here, so a truncated history refuses sub-floor bounds everywhere
    // without each read path re-implementing the check
    val floor = readHistoryFloor(df.sparkSession, dir)
    require(bound >= floor,
      s"as-of bound $bound on $dir/$table is below the history floor " +
        s"$floor — versions at or below the floor were collapsed by " +
        "history truncation and can no longer be separated; only " +
        "bounds >= the floor are answerable")
    df.filter(org.apache.spark.sql.functions.col(tagCol) <= bound)
  }

  /** True iff the path exists on its filesystem (a raw FS probe — no
    * parquet read, so an empty or mid-write dir still counts). */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Marker file a history truncation ([[StatePillar.truncate]])
    * publishes BEFORE collapsing partitions: versions with tag ≤ floor no
    * longer exist individually, so as-of reads below it and tagged
    * writes at-or-below it must refuse. Written first so a crash between
    * the marker and the table swap only causes conservative REFUSALS of
    * still-answerable versions — never a silent wrong answer from a
    * collapsed cut (re-run the truncation to finish). */
  private[graft] val HistoryFloorFile = "_history_floor"

  /** Second floor slot — the floor is TWO alternating files and the
    * published value is their MAX, so RAISING a floor never passes
    * through a window where the old value is deleted but the new one is
    * not yet renamed in (a crash there would erase the published floor
    * and let sub-floor as-of reads silently answer from the collapsed
    * base — the one silent-wrong-answer the refusal posture forbids).
    * A raise writes the new floor into the slot holding the SMALLER
    * value (or the empty one): the other slot keeps publishing the old
    * max through every intermediate crash state, and since floors are
    * monotone the max over both slots is always a floor that was
    * legitimately published. */
  private[graft] val HistoryFloorFileB = "_history_floor_b"

  private def readFloorSlot(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[Long] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toLong)
      finally in.close()
    }

  /** The state dir's history floor — 0 when never truncated. Reads the
    * max over both floor slots (see [[HistoryFloorFileB]]). */
  def readHistoryFloor(spark: SparkSession, dir: String): Long = {
    val a = new org.apache.hadoop.fs.Path(dir, HistoryFloorFile)
    val fs = a.getFileSystem(spark.sessionState.newHadoopConf())
    val b = new org.apache.hadoop.fs.Path(dir, HistoryFloorFileB)
    math.max(readFloorSlot(fs, a).getOrElse(0L),
      readFloorSlot(fs, b).getOrElse(0L))
  }

  /** Publish a new history floor (monotone — a floor can only rise:
    * lowering one would claim history that is already collapsed).
    * Crash-safe across the raise: the new value lands in the slot whose
    * current value is smaller, by tmp-write + rename, and the reader
    * takes the max of both slots — at every intermediate state
    * (tmp written, smaller slot deleted, rename done) the max is either
    * the old floor or the new one, never 0 and never a value that was
    * not published. */
  private[graft] def writeHistoryFloor(
      spark: SparkSession, dir: String, floor: Long): Unit = {
    val a = new org.apache.hadoop.fs.Path(dir, HistoryFloorFile)
    val b = new org.apache.hadoop.fs.Path(dir, HistoryFloorFileB)
    val fs = a.getFileSystem(spark.sessionState.newHadoopConf())
    val va = readFloorSlot(fs, a)
    val vb = readFloorSlot(fs, b)
    val existing = math.max(va.getOrElse(0L), vb.getOrElse(0L))
    require(floor >= existing,
      s"history floor can only rise: $dir is already truncated at " +
        s"$existing, got $floor")
    // target = the slot NOT holding the current max (missing counts as
    // smallest; ties keep a): deleting it before the rename can only
    // drop a value <= the max the other slot keeps publishing
    val p =
      if (va.getOrElse(Long.MinValue) >= vb.getOrElse(Long.MinValue)) b
      else a
    val tmp = new org.apache.hadoop.fs.Path(dir, p.getName + "__tmp")
    fs.delete(tmp, false)
    val out = fs.create(tmp, true)
    try out.write(floor.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(p, false)
    require(fs.rename(tmp, p),
      s"cannot publish history floor in $dir")
  }

  /** Guard tagged writes against a truncated history: a replayed append
    * or delete whose tag is at or below the floor would overwrite (or
    * recreate) a partition that has been collapsed into the base
    * version — refusing is the only safe answer. */
  def checkTagAboveFloor(
      spark: SparkSession, dir: String, tag: Option[Long],
      kind: String): Unit = {
    val floor = readHistoryFloor(spark, dir)
    if (floor > 0L) {
      require(tag.isDefined,
        s"$dir has a history floor ($floor) — every $kind must be tagged " +
          "(untagged rows have no version identity to place against the " +
          "collapsed history)")
      require(tag.get > floor,
        s"$kind tag ${tag.get} is at or below $dir's history floor " +
          s"$floor — that version was collapsed by truncation and cannot " +
          "be replayed; use a tag above the floor")
    }
  }

  /** One table's role in a [[truncateHistory]] call: its name, tag
    * column (`batch_id` for appends, `delete_id` for deletes), the
    * extra partition levels UNDER the tag that query pruning depends on
    * (e.g. the postings `bucket`), and whether the table must exist
    * (append tables yes; a pillar that was never deleted from has no
    * tombstones — optional, skipped when absent). */
  private[graft] final case class TruncTable(
      name: String, tagCol: String, extraPartitionCols: Seq[String] = Nil,
      required: Boolean = true)

  /** The SHARED history-retention GC core behind
    * [[StatePillar.truncate]] (the postings pillar pioneered the shape —
    * [[Index.collapsePostingsHistory]] keeps its own body because it
    * additionally folds sub-floor tombstones into the sub-floor postings
    * physically; the other pillars collapse PURELY, which is exactly
    * as-of-preserving because the collapsed tombstones keep subtracting
    * at read time the way they always did). The caller runs the write
    * guard first ([[StatePillar.checkWritable]]).
    *
    * Collapses every version with tag ≤ `floor` into ONE base version
    * tagged `floor`: rows re-tag (a pure partition move — content
    * byte-preserved), rows above the floor are untouched, and a
    * `src_batch` column (batch-attributed delete corrections — stats
    * deltas, postings tomb_totals) re-tags to `greatest(src_batch,
    * floor)` so every still-legal as-of read (bounds ≥ floor by the
    * [[asOfCut]] refusal) selects exactly the rows it did before. What
    * truncation BUYS is bounded metadata: a year of per-batch tagged
    * partitions becomes one base partition per table plus the
    * post-floor tail — time-travel below the floor is the traded-away
    * promise, refused loudly everywhere via the `_history_floor` marker
    * (reads [[asOfCut]], writes [[checkTagAboveFloor]]).
    *
    * Crash posture (same as postings): the floor marker publishes FIRST
    * (atomic rename) — a crash before the table swap leaves
    * conservative refusals of still-intact versions, never a wrong
    * answer (re-run to finish); the tables then move under ONE
    * [[swapInTables]] commit point, so any later crash leaves the full
    * old or full new layout with [[recoverSwap]] rolling forward.
    *
    * Scale shape: one distributed rewrite of the sub-floor partitions,
    * straight copies above — the compaction cost profile, run at the
    * same cadence. Nothing collects to the driver but the max tag. */
  private[graft] def truncateHistory(
      spark: SparkSession, dir: String, floor: Long,
      tables: Seq[TruncTable]): Unit =
      withWriterLock(spark, dir) {
    import org.apache.spark.sql.functions.{col, greatest, lit, max}
    val loaded: Seq[(TruncTable, DataFrame)] = tables.flatMap { t =>
      val df = readTableIfExists(spark, dir, t.name)
      require(df.isDefined || !t.required,
        s"history truncation: required table $dir/${t.name} does not exist")
      df.map { d =>
        require(d.columns.contains(t.tagCol),
          s"history truncation needs a TAGGED state: $dir/${t.name} has " +
            s"no ${t.tagCol} partition column (untagged writes carry no " +
            "version identity to collapse)")
        (t, d)
      }
    }
    val batchTags = loaded.filter(_._1.tagCol == "batch_id")
    require(batchTags.nonEmpty,
      s"history truncation at $dir: no batch-tagged table to bound the " +
        "floor against")
    // max over a partition column — answered from the dir listing
    // (zero jobs, zero footer reads; see [[partitionTagValues]])
    val maxBatch = partitionTagMax(spark, dir, batchTags.head._1.name,
      "batch_id").getOrElse(throw new IllegalStateException(
        s"history truncation at $dir: ${batchTags.head._1.name} carries " +
          "a batch_id column but no batch_id= partition directories"))
    require(floor >= 1L && floor <= maxBatch,
      s"floor $floor out of range for $dir: tagged batches reach $maxBatch")
    def collapse(df: DataFrame, tagCol: String): DataFrame = {
      val retagSrc =
        if (df.columns.contains("src_batch"))
          df.withColumn("src_batch",
            greatest(col("src_batch").cast("long"), lit(floor)))
        else df
      retagSrc.filter(col(tagCol) <= floor)
        .withColumn(tagCol, lit(floor))
        .unionByName(retagSrc.filter(col(tagCol) > floor)
          .withColumn(tagCol, col(tagCol).cast("long")))
    }
    // the floor FIRST: a crash between here and the swap refuses
    // conservatively instead of answering from a half-collapsed cut
    writeHistoryFloor(spark, dir, floor)
    swapInTables(spark, dir, loaded.map { case (t, d) =>
      (t.name, collapse(d, t.tagCol), t.tagCol +: t.extraPartitionCols)
    })
  }

  /** BRANCH a state dir at a version — the shared core behind every
    * pillar's [[StatePillar.clone]]: materialize "the state after (append
    * B, delete D)" as an INDEPENDENT new state dir, so an experiment
    * (a recluster trial, a retention dry-run, a what-if curation pass)
    * mutates the branch while the source keeps serving. The tagged
    * partition history makes this a pure partition-pruned copy — each
    * tagged table lands with only its `tag <= bound` partitions (the
    * same cut [[asOfCut]] applies at read time, so a PLAIN read of the
    * clone answers exactly like the as-of read of the source), and
    * correction tables carrying `src_batch` keep only rows attributed
    * inside the batch cut (null = unattributed rows apply wholly — the
    * documented mixed-cut caveat travels with the clone). Version-free
    * artifacts (frozen centroids / merges, `_meta` parameter files)
    * raw-copy byte-identical, and a truncated source's history floor
    * carries over — the clone refuses the same collapsed versions.
    *
    * The destination must not exist (a clone never overwrites), and the
    * source must be remnant-free (a mid-compaction or mid-swap source
    * has no well-defined version to branch). An optional delete-tagged
    * table whose cut is empty is skipped entirely — same layout as a
    * pillar that was never deleted from.
    *
    * Crash posture: a clone is a pure CREATE of a fresh directory, so a
    * crash mid-copy leaves a partial destination that nothing reads
    * implicitly (no marker needed — the source is untouched by
    * construction); the destination-must-not-exist refusal then
    * deliberately blocks resuming INTO the half-copied dir — delete the
    * destination and re-run.
    *
    * Scale shape: one distributed copy of the selected partitions —
    * no join, no shuffle (the write re-partitions by the same tag
    * levels the source had); raw copies are driver-side FS renames of
    * metadata-sized dirs. Nothing collects to the driver. */
  private[graft] def cloneStateAsOf(
      spark: SparkSession, srcDir: String, dstDir: String,
      asOfBatch: Long, asOfDelete: Long,
      tables: Seq[TruncTable], rawCopies: Seq[String] = Nil): Unit =
      withWriterLock(spark, srcDir) {
    // the SOURCE's lease: the partition cut must be stable while it
    // copies (a concurrent truncate would collapse partitions mid-read);
    // the destination is a fresh errorifexists create nothing else names
    checkNoCompactRemnants(spark, srcDir,
      tables.map(_.name) ++ rawCopies.filterNot(_ == "_meta"))
    // tags start at 1, so a batch bound below 1 selects NOTHING from a
    // required table — the write would land an empty (schema-less)
    // parquet dir that every later read chokes on; refuse instead
    require(asOfBatch >= 1L,
      s"clone of $srcDir: asOfBatch must be >= 1 (tagged batches start " +
        s"at 1), got $asOfBatch — an empty version cannot be branched")
    require(!pathExists(spark, dstDir),
      s"clone destination $dstDir already exists — a clone never " +
        "overwrites; remove it or pick a fresh path")
    val hconf = spark.sessionState.newHadoopConf()
    tables.foreach { t =>
      val df = readTableIfExists(spark, srcDir, t.name)
      require(df.isDefined || !t.required,
        s"clone: required table $srcDir/${t.name} does not exist")
      df.foreach { d =>
        val bound = if (t.tagCol == "batch_id") asOfBatch else asOfDelete
        if (!d.columns.contains("src_batch")) {
          // PURE partition-level cut (every table except the
          // batch-attributed corrections below): "tag <= bound" selects
          // whole `tagCol=N` directories, so the clone is a FILE copy
          // of the selected partitions — no decode, no shuffle, no
          // re-encode of corpus-sized tables to reproduce rows the
          // source already holds, and on object stores a server-side
          // copy. Validations mirror [[asOfCut]] exactly (tagged-only,
          // floor refusal), and the empty-cut skip rule is unchanged
          // (an optional table with nothing selected lands no dir).
          require(d.columns.contains(t.tagCol),
            s"as-of reads need a TAGGED state: $srcDir/${t.name} has " +
              s"no ${t.tagCol} partition column (untagged appends/" +
              "deletes carry no version identity) — rebuild with " +
              "tagged appends/deletes to snapshot")
          val floor = readHistoryFloor(spark, srcDir)
          require(bound >= floor,
            s"as-of bound $bound on $srcDir/${t.name} is below the " +
              s"history floor $floor — versions at or below the floor " +
              "were collapsed by history truncation and can no longer " +
              "be separated; only bounds >= the floor are answerable")
          val tags = partitionTagValues(spark, srcDir, t.name, t.tagCol)
            .getOrElse(Nil).filter(_ <= bound).distinct.sorted
          if (!(!t.required && tags.isEmpty)) {
            val srcTable = new org.apache.hadoop.fs.Path(
              tablePath(spark, srcDir, t.name))
            val fs = srcTable.getFileSystem(hconf)
            // the DESTINATION's FileSystem: a clone across schemes
            // (dstDir on a different FS) must not route dst I/O through
            // the source's FS (Wrong-FS error)
            val dstTable = new org.apache.hadoop.fs.Path(dstDir, t.name)
            val dstFs = dstTable.getFileSystem(hconf)
            dstFs.mkdirs(dstTable)
            copyTreesParallel(fs, dstFs, hconf,
              tags.map { tag =>
                val part = s"${t.tagCol}=$tag"
                (new org.apache.hadoop.fs.Path(srcTable, part),
                  new org.apache.hadoop.fs.Path(dstTable, part))
              })
          }
        } else {
          val cutTag = asOfCut(d, t.tagCol, bound, srcDir, t.name)
          // batch-attributed corrections: only rows inside the batch cut
          // belong to this version (null = unattributed, applies wholly)
          // — a ROW-level filter, so this table keeps the Spark rewrite
          val cut = cutTag
            .filter(org.apache.spark.sql.functions.col("src_batch")
              .isNull || org.apache.spark.sql.functions.col("src_batch")
              <= asOfBatch)
          val skip = !t.required && cut.isEmpty
          if (!skip)
            clusterForWrite(cut, t.tagCol +: t.extraPartitionCols)
              .write.mode("errorifexists")
              .partitionBy((t.tagCol +: t.extraPartitionCols): _*)
              .parquet(s"$dstDir/${t.name}")
        }
      }
    }
    rawCopies.foreach { name =>
      // resolve through the source's manifest (a compacted `merges`
      // may live in a version dir); the clone lands under the PLAIN
      // name — a clone is a fresh plain-mode dir by construction
      val src = new org.apache.hadoop.fs.Path(
        tablePath(spark, srcDir, name))
      val fs = src.getFileSystem(hconf)
      val dst = new org.apache.hadoop.fs.Path(dstDir, name)
      if (fs.exists(src))
        require(org.apache.hadoop.fs.FileUtil.copy(fs, src,
          dst.getFileSystem(hconf), dst, false, hconf),
          s"clone: cannot copy $src into $dstDir")
    }
    val floor = readHistoryFloor(spark, srcDir)
    if (floor > 0L) writeHistoryFloor(spark, dstDir, floor)
    // branch lineage: record where this clone came from and the cut it
    // was taken at — what [[fastForwardState]] needs to catch the
    // branch up later (and to refuse a dir that is not a branch at all)
    writeBranchInfo(spark, dstDir,
      BranchInfo(qualifyDir(spark, srcDir), asOfBatch, asOfDelete))
  }

  /** Replace the CONTENT of one or more state tables under a SINGLE
    * commit point — the shared primitive for rewrites that CHANGE rows
    * and must move together (e.g. [[Similarity.reclusterIvfState]]
    * swapping retrained `centroids` with cells reassigned under them: a
    * state that pairs one new table with one old table is silently
    * wrong — cid values refer to different clusters — and per-table
    * atomicity cannot prevent that pairing).
    *
    * Protocol, in three phases:
    *
    *  1. **Stage.** Every table's new content is written to
    *     `<table>__compact_tmp`. No live table is touched, so the staged
    *     frames may read lazily from the very tables they replace, and a
    *     crash anywhere here leaves the OLD fit fully intact (stale tmp
    *     dirs are pre-commit garbage, deleted by the next swap's stage).
    *  2. **Commit.** The `_swap_commit` marker file (listing the tables)
    *     is published by ONE atomic rename — this is the commit point.
    *     A crash before it: full old fit. After it: the new fit is
    *     durable in the tmp dirs and recovery rolls FORWARD.
    *  3. **Apply.** Each table is renamed in (live → `__compact_bak`,
    *     tmp → live, drop bak — [[applyStagedTable]], idempotent for
    *     every intermediate crash state), then the marker is removed.
    *     Until the marker is gone, every read/append/compact entry
    *     point fails fast ([[checkNoSwapInProgress]]) and
    *     [[recoverSwap]] re-runs phase 3 to completion.
    *
    * Pre-existing `<table>__compact_bak` dirs are NEVER deleted here —
    * a bak is the recovery artifact of a crashed compaction, so this
    * fails fast instead (remnant handling stays in
    * [[checkNoCompactRemnants]] / [[recoverSwap]], one place).
    *
    * `crashAfterApplied` is a fault-injection hook for the crash-safety
    * gates ONLY (negative = off): ≥ 0 throws [[InjectedCrash]] after
    * applying that many tables — 0 crashes right after the commit
    * marker, 1 reproduces exactly the window where the first table
    * swapped and the second did not. */
  /** Hash-cluster a frame by its partition columns before a partitioned
    * write — the [[graft.ext.Dedup.compactStateTables]] posture applied
    * to state-table rewrites whose layout carries SUB-TAG partition
    * levels (a bands `bkt`, a postings `bucket`): there the file count
    * is P tasks × (tags × buckets) sliver files unclustered — a
    * 4096-bucket bands table measured as a 130k-file, 40+ s rewrite of a
    * 5k-row state, with 13.5 s pruned READS in pure listing overhead.
    * Clustered, each partition dir gets whole files; parallelism becomes
    * the partition-value cardinality — the trade compaction already
    * makes, and parquet stays splittable for reads.
    *
    * Tag-ONLY layouts (`batch_id`/`delete_id`, a handful of values
    * bounded by retention) deliberately do NOT cluster: they cannot
    * explode (≤ P × tags files), and the extra shuffle + lost write
    * parallelism measured as a ~14% tax on the lifecycle gates without
    * buying anything. */
  private def clusterForWrite(
      df: DataFrame, partitionCols: Seq[String]): DataFrame =
    if (!partitionCols.exists(c => c != "batch_id" && c != "delete_id")) df
    else df.repartition(partitionCols.map(
      org.apache.spark.sql.functions.col): _*)

  private[graft] def swapInTables(
      spark: SparkSession, dir: String,
      tables: Seq[(String, DataFrame, Seq[String])],
      crashAfterApplied: Int = -1): Unit = withWriterLock(spark, dir) {
    require(tables.nonEmpty, "swapInTables: no tables to swap")
    if (manifestMode(spark, dir)) {
      // object-store-safe protocol: no data-dir rename exists to be
      // non-atomic — stage into fresh version dirs, flip the pointer
      swapInTablesVersioned(spark, dir, tables, crashAfterApplied)
      return
    }
    val hconf = spark.sessionState.newHadoopConf()
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(hconf)
    def p(name: String) = new org.apache.hadoop.fs.Path(dir, name)
    checkNoSwapInProgress(spark, dir)
    tables.foreach { case (t, _, _) =>
      require(!fs.exists(p(s"${t}__compact_bak")),
        s"found $dir/${t}__compact_bak — a compaction or swap crashed " +
          s"mid-rename; restore/verify it over $dir/$t first " +
          "(swapInTables never deletes a backup)")
      require(fs.exists(p(t)),
        s"swapInTables: live table $dir/$t does not exist")
    }
    // phase 1: stage — clustered by the partition columns (the
    // compaction posture: each partition dir gets whole files instead of
    // one sliver per writing task; parquet stays splittable for reads).
    // The per-table staging writes are INDEPENDENT jobs on disjoint
    // __compact_tmp paths (each df reads only its own live table), so
    // they overlap on a bounded pool (guide §2.6); the commit marker and
    // the phase-3 renames stay strictly after ALL staging lands, so the
    // crash/injection contract is unchanged.
    runOverlapped(tables.map { case (t, df, partitionCols) => () => {
      val tmp = p(s"${t}__compact_tmp")
      fs.delete(tmp, true)
      val clustered = clusterForWrite(df, partitionCols)
      val w = clustered.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp.toString)
    } })
    // phase 2: commit — publish the marker with one atomic rename
    val markerTmp = p(SwapCommitMarker + "__tmp")
    fs.delete(markerTmp, true)
    val out = fs.create(markerTmp, true)
    try out.write(tables.map(_._1).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(markerTmp, p(SwapCommitMarker)),
      s"swapInTables: cannot publish commit marker in $dir")
    // phase 3: apply + clear the marker
    var applied = 0
    tables.foreach { case (t, _, _) =>
      if (applied == crashAfterApplied) throw new InjectedCrash(applied)
      applyStagedTable(fs, dir, t)
      applied += 1
    }
    if (crashAfterApplied == tables.size) throw new InjectedCrash(applied)
    fs.delete(p(SwapCommitMarker), false)
  }

  /** The MANIFEST-commit twin of the rename protocol (see the header's
    * FS contract): [[swapInTables]] routes here automatically on dirs
    * flipped by [[enableManifestCommits]]. Stages every table's new
    * content into a FRESH `<table>__vNNNN` directory (pure creates —
    * no data directory is ever renamed; a crashed earlier attempt's
    * identically-named staging dir is clobbered by the overwrite),
    * then publishes the new `_versions` pointer in ONE small-file
    * write — the commit point. Crash before the publish: readers
    * resolve the old manifest — the full OLD fit; the staged dirs are
    * unreferenced garbage ([[vacuumStateVersions]]). Crash after: the
    * full NEW fit. A mixed fit cannot be OBSERVED because nothing a
    * reader resolves through changes except the single pointer file —
    * this holds even if directory renames on the substrate are
    * non-atomic, which is the whole point. Old version dirs are
    * best-effort deleted after the publish (a crash leaves them to the
    * vacuum; they are unreferenced either way).
    *
    * `crashAfterApplied` fault-injection (tests only): `k <
    * tables.size` crashes after staging `k` version dirs (pre-commit);
    * `k == tables.size` crashes right after the pointer publish
    * (committed, GC skipped). */
  private def swapInTablesVersioned(
      spark: SparkSession, dir: String,
      tables: Seq[(String, DataFrame, Seq[String])],
      crashAfterApplied: Int): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    val current = readManifest(spark, dir)
    def versionOf(name: String): Int =
      "__v(\\d{4})$".r.findFirstMatchIn(name)
        .map(_.group(1).toInt).getOrElse(0)
    tables.foreach { case (t, _, _) =>
      require(fs.exists(new org.apache.hadoop.fs.Path(dir,
        current.getOrElse(t, t))),
        s"swapInTables: live table $dir/$t does not exist")
    }
    var staged = 0
    val newNames = tables.map { case (t, df, partitionCols) =>
      if (staged == crashAfterApplied) throw new InjectedCrash(staged)
      val newName = f"${t}__v${versionOf(current.getOrElse(t, t)) + 1}%04d"
      val w = clusterForWrite(df, partitionCols).write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(s"$dir/$newName")
      staged += 1
      t -> newName
    }
    publishManifest(spark, dir, current ++ newNames) // THE commit point
    if (crashAfterApplied == tables.size) throw new InjectedCrash(staged)
    // the SUPERSEDED directories are deliberately NOT deleted here: a
    // long-running query that resolved tablePath before the pointer
    // flip is still scanning them, and an inline delete would yank its
    // files mid-scan (the classic vacuum-reader race). They are garbage
    // the moment the pointer lands — reclaimed by vacuumStateVersions,
    // whose graceMs retention window is what makes the reclaim safe to
    // schedule against in-flight readers (the Delta VACUUM posture).
  }

  /** Single-table convenience over [[swapInTables]] — same commit-marker
    * protocol, same fail-fast on pre-existing backups. */
  private[ext] def swapInTable(
      spark: SparkSession, dir: String, table: String,
      df: DataFrame, partitionCols: Seq[String] = Nil): Unit =
    swapInTables(spark, dir, Seq((table, df, partitionCols)))

  /** Roll ONE staged table forward — idempotent across every crash state
    * phase 3 can leave:
    *  - tmp + live (not started): move live aside, move tmp in, drop bak;
    *  - tmp + bak, no live (crashed between the two renames): move tmp
    *    in, drop bak;
    *  - live + bak, no tmp (crashed before the bak drop): drop bak;
    *  - live only (done): no-op. */
  private def applyStagedTable(
      fs: org.apache.hadoop.fs.FileSystem, dir: String, table: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(dir, table)
    val tmp = new org.apache.hadoop.fs.Path(dir, s"${table}__compact_tmp")
    val bak = new org.apache.hadoop.fs.Path(dir, s"${table}__compact_bak")
    if (fs.exists(tmp)) {
      if (fs.exists(live)) {
        require(!fs.exists(bak),
          s"applyStagedTable: $bak and $live both exist alongside $tmp — " +
            "not a state this protocol produces; repair by hand")
        require(fs.rename(live, bak),
          s"applyStagedTable: cannot move $live aside")
      }
      require(fs.rename(tmp, live), s"applyStagedTable: cannot move $tmp in")
    }
    require(fs.exists(live),
      s"applyStagedTable: $live missing with no staged replacement — " +
        "the state dir is corrupt; restore from backup")
    if (fs.exists(bak)) fs.delete(bak, true)
  }

  /** Complete a [[swapInTables]] that crashed after its commit point:
    * re-apply every table listed in the `_swap_commit` marker (each step
    * idempotent — [[applyStagedTable]]), then clear the marker. Returns
    * true iff a crashed swap was found and rolled forward; false = no
    * marker, nothing to do (safe to call blindly). The result is always
    * the FULL new fit — a commit marker means every table's new content
    * was durably staged before the crash. */
  private[graft] def recoverSwap(spark: SparkSession, dir: String): Boolean =
      withWriterLock(spark, dir) {
    val hconf = spark.sessionState.newHadoopConf()
    val marker = new org.apache.hadoop.fs.Path(dir, SwapCommitMarker)
    val fs = marker.getFileSystem(hconf)
    if (!fs.exists(marker)) return false
    val in = fs.open(marker)
    val names =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      finally in.close()
    require(names.nonEmpty,
      s"recoverSwap: empty commit marker at $marker — repair by hand")
    names.foreach(applyStagedTable(fs, dir, _))
    fs.delete(marker, false)
    true
  }

  /** The floor a KEEP-LAST-N retention policy implies for a state dir —
    * the policy face of [[truncateHistory]]: operators think "keep the
    * last 2 versions individually addressable", not in absolute floor
    * numbers that drift as batches land. Returns `Some(maxBatch -
    * keepLastBatches)` when that floor actually collapses something new
    * (above the current floor, at least 1); `None` = the policy is
    * already satisfied, nothing to truncate (so a scheduled `retain`
    * call is an idempotent no-op, exactly what a cron-driven GC wants).
    * The caller passes the floor to the pillar's truncate — the two
    * steps stay separate so a dry-run can LOOK without collapsing. */
  def retentionFloor(
      spark: SparkSession, dir: String, keepLastBatches: Int,
      batchTables: Seq[String]): Option[Long] = {
    require(keepLastBatches >= 1,
      s"retention must keep at least the head batch, got $keepLastBatches")
    // per-table max over the batch_id PARTITION column — the dir
    // listing answers it with zero jobs (see [[partitionTagValues]];
    // untagged tables yield no batch_id= dirs → None, as before)
    val maxes = batchTables.flatMap { t =>
      partitionTagMax(spark, dir, t, "batch_id")
    }
    if (maxes.isEmpty) return None // nothing tagged, nothing to retain
    val target = maxes.max - keepLastBatches
    val existing = readHistoryFloor(spark, dir)
    if (target > existing && target >= 1L) Some(target) else None
  }

  // ----------------------------------------------------------------
  // Branch catch-up (fast-forward)
  // ----------------------------------------------------------------

  /** Lineage file a [[cloneStateAsOf]] destination carries: the source
    * dir and the (batch, delete) cut the branch was taken at — what
    * [[fastForwardState]] validates against and advances. */
  private[graft] val BranchFile = "_branch"

  /** Marker a [[fastForwardState]] publishes before its first mutation
    * of the branch. While it exists the branch may pair caught-up
    * append partitions with the branch point's delete tables — not any
    * version that ever existed — so every read and mutating entry point
    * fails fast on it ([[checkNoSwapInProgress]]) until a re-run of the
    * fast-forward completes and clears it. */
  private[graft] val FfPendingMarker = "_ff_pending"

  private[graft] final case class BranchInfo(
      src: String, batch: Long, delete: Long)

  /** Tag values present in a TAGGED state table, answered from the
    * partition DIRECTORY names under the resolved table path — zero
    * Spark jobs where `df.agg(max(tagCol))` planned a full scan (a
    * max over a PARTITION column needs only the directory listing; the
    * metadata-only optimizer rule that would do this is disabled by
    * default for empty-partition reasons that do not apply here: a
    * tagged write creates exactly one non-empty dir per tag, and the
    * dir's presence is precisely the version identity the replay /
    * divergence / retention logic reasons about). At scale the scan
    * this replaces costs one footer read per file of a corpus-sized
    * table per call — the listing is one RPC. Returns None when the
    * table does not exist; Some(Nil) when it exists untagged (no
    * `tagCol=` dirs). */
  /** True iff `p` holds at least one VISIBLE data file at any depth —
    * the guard that keeps [[partitionTagValues]] from counting a tag
    * dir that an aborted write left EMPTY (Spark creates the output dir
    * at job setup and a crash can leave it holding only `_temporary`):
    * an empty `delete_id=N` dir counted as a committed delete head
    * would make a later successful re-run of delete N a silent no-op
    * (the delta skips an "already applied" head), and empty batch dirs
    * would shift divergence probes / retention floors / truncation
    * bounds the old row-level max was immune to. Files first, so the
    * common case (files directly under the tag dir) is one listing. */
  private def hasDataFile(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean = {
    val visible = fs.listStatus(p).filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    visible.exists(_.isFile) ||
      visible.iterator.filter(_.isDirectory)
        .exists(d => hasDataFile(fs, d.getPath))
  }

  private[graft] def partitionTagValues(
      spark: SparkSession, dir: String, table: String,
      tagCol: String): Option[Seq[Long]] = {
    val p = new org.apache.hadoop.fs.Path(tablePath(spark, dir, table))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else Some(fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith(tagCol + "="))
      .filter(s => hasDataFile(fs, s.getPath)) // aborted-write remnants
      .flatMap(s => scala.util.Try(
        s.getPath.getName.drop(tagCol.length + 1).toLong).toOption))
  }

  /** Max tag of a tagged table from the partition listing (see
    * [[partitionTagValues]]); None when the table is missing or has no
    * tag partitions. */
  private[graft] def partitionTagMax(
      spark: SparkSession, dir: String, table: String,
      tagCol: String): Option[Long] =
    partitionTagValues(spark, dir, table, tagCol).filter(_.nonEmpty)
      .map(_.max)

  /** Copy whole directory trees FILE-BY-FILE through a bounded thread
    * pool — the clone's byte mover. The old shape iterated tags and ran
    * one driver-thread `FileUtil.copy` per directory: at 100 TB a
    * corpus-sized branch copy serialized every byte through ONE thread.
    * Here the recursive listing first flattens the trees into per-FILE
    * copy tasks, then up to [[CopyThreads]] driver threads stream them
    * concurrently (on object stores each task is a server-side copy, so
    * the "threads" are mostly waiting on metadata RPCs and the fan-out
    * matters even more). Rows are byte-identical by construction — the
    * same (src, dst) pairs, just not sequential. Any single failure
    * fails the clone loudly, matching the old per-dir `require`. */
  private[graft] val CopyThreads = 16
  private[graft] def copyTreesParallel(
      srcFs: org.apache.hadoop.fs.FileSystem,
      dstFs: org.apache.hadoop.fs.FileSystem,
      hconf: org.apache.hadoop.conf.Configuration,
      trees: Seq[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)])
      : Unit = {
    val files = scala.collection.mutable.ArrayBuffer
      .empty[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)]
    def walk(src: org.apache.hadoop.fs.Path,
        dst: org.apache.hadoop.fs.Path): Unit =
      srcFs.listStatus(src).foreach { s =>
        val d = new org.apache.hadoop.fs.Path(dst, s.getPath.getName)
        if (s.isDirectory) walk(s.getPath, d)
        else files += ((s.getPath, d))
      }
    trees.foreach { case (s, d) =>
      val n0 = files.size
      walk(s, d)
      // an all-empty tree still clones as its (empty) destination dir
      if (files.size == n0) dstFs.mkdirs(d)
    }
    if (files.isEmpty) return
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(CopyThreads, files.size))
    try {
      val futs = files.map { case (s, d) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            require(org.apache.hadoop.fs.FileUtil.copy(srcFs, s, dstFs, d,
              false, hconf), s"clone: cannot copy $s into $d")
        })
      }
      futs.foreach { f =>
        try f.get()
        catch { // surface the copy's own failure, not the wrapper
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      }
    } finally pool.shutdownNow()
  }

  /** Run independent Spark actions concurrently on a bounded pool and
    * propagate the first failure (guide §2.6 overlap — actions are only
    * sequential because driver code calls them sequentially; jobs whose
    * reads and writes touch DISJOINT paths can back-fill each other's
    * straggler tails). Callers are responsible for the disjointness —
    * in particular, versioned (manifest-mode) swaps publish through ONE
    * `_versions` pointer per state dir and must NOT be overlapped
    * within a dir. */
  private[graft] def runOverlapped(tasks: Seq[() => Unit]): Unit = {
    if (tasks.size <= 1) { tasks.foreach(_.apply()); return }
    // a handful of jobs in flight fills every straggler tail (guide
    // §2.6 — "2-3 in flight is plenty"); an unbounded pool for a long
    // task list (e.g. a far-behind branch's per-tag copies) would only
    // pile scheduler pressure without adding overlap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, tasks.size))
    try {
      val futs = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = t()
        })
      }
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      }
    } finally pool.shutdownNow()
  }

  private[graft] def qualifyDir(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toString
  }

  /** Atomic small-file publish (tmp write + OVERWRITE rename — the
    * [[publishManifest]] discipline): a reader sees the whole old
    * content or the whole new one, never a mix. */
  private[graft] def publishSmallFile(
      spark: SparkSession, dir: String, name: String,
      content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val tmp = new org.apache.hadoop.fs.Path(dir, name + "__tmp")
    val hconf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(hconf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    fs.delete(tmp, false)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, hconf)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private[graft] def readSmallFile(
      spark: SparkSession, dir: String, name: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  private[graft] def writeBranchInfo(
      spark: SparkSession, dir: String, info: BranchInfo): Unit =
    publishSmallFile(spark, dir, BranchFile,
      s"src=${info.src}\nbatch=${info.batch}\ndelete=${info.delete}\n")

  private[graft] def readBranchInfo(
      spark: SparkSession, dir: String): Option[BranchInfo] =
    readSmallFile(spark, dir, BranchFile).map { body =>
      val kv = body.split("\n").map(_.trim).filter(_.contains('='))
        .map { l =>
          val i = l.indexOf('=')
          (l.substring(0, i), l.substring(i + 1))
        }.toMap
      // a corrupt / partially-written lineage file must refuse by NAME
      // (the state layer's posture), not leak a bare NoSuchElementException
      // or NumberFormatException from the kv lookups
      try BranchInfo(kv("src"), kv("batch").toLong, kv("delete").toLong)
      catch {
        case e @ (_: NoSuchElementException | _: NumberFormatException) =>
          throw new IllegalStateException(
            s"corrupt $BranchFile lineage in $dir (${e.getMessage}) — " +
              "re-clone from the source to re-establish lineage", e)
      }
    }

  /** Content checksum of a frozen-artifact path (file or directory):
    * MD5 over the relative-name-sorted (name, bytes) stream. A clone
    * raw-copies these artifacts byte-identical, so equal checksums mean
    * the source has not refit/rewritten them since the branch. */
  private def artifactChecksum(
      spark: SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return None
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(q: org.apache.hadoop.fs.Path, rel: String): Seq[(String, org.apache.hadoop.fs.Path)] = {
      val st = fs.getFileStatus(q)
      if (st.isFile) Seq((rel, q))
      else fs.listStatus(q).toSeq.sortBy(_.getPath.getName).flatMap { c =>
        walk(c.getPath, rel + "/" + c.getPath.getName)
      }
    }
    walk(p, "").sortBy(_._1).foreach { case (rel, f) =>
      md.update(rel.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val in = fs.open(f)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    Some(md.digest().map("%02x".format(_)).mkString)
  }

  /** Refuse when a tagged table carries UNTAGGED rows — data files at
    * the table root next to its `tagCol=` partitions, the mixed layout
    * an untagged append/delete leaves on an otherwise-tagged state.
    * Schema-level checks cannot see this (Spark still infers the tag
    * column from the tagged subdirs and then fails — or silently
    * mispartitions — at read time), so this is an FS-level mirror of
    * the [[asOfCut]] untagged-state refusal. */
  private def checkNoUntaggedRows(
      spark: SparkSession, dir: String, table: String, tagCol: String,
      remedy: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tablePath(spark, dir, table))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return
    val rogue = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") &&
        !(st.isDirectory && n.startsWith(s"$tagCol="))
    }
    require(rogue.isEmpty,
      s"$dir/$table carries UNTAGGED rows (${rogue.head.getPath.getName} " +
        s"at the table root next to $tagCol= partitions) — untagged " +
        s"writes have no version identity; $remedy")
  }

  /** CATCH a branch UP to its source's current head — the incremental
    * twin of re-cloning, behind every pillar's
    * [[StatePillar.fastForward]]:
    * a [[cloneStateAsOf]] branch taken at (B, D) advances to the
    * source's (B', D') by copying ONLY the missing tagged append
    * partitions (tag in (B, B']) plus a wholesale rewrite of the
    * delete-tagged tables (tombstone-sized by design — the bulky
    * per-batch tables move incrementally, which is the point: catch-up
    * cost is O(new batches + tombstones), never O(branch size) like a
    * re-clone). Returns the new (batch, delete) cut.
    *
    * Refusals, each naming its remedy:
    *  - the destination carries no `_branch` lineage (not a clone of
    *    anything) or names a different source;
    *  - the branch DIVERGED — it has local tagged writes past its
    *    recorded cut (tags > B / > D): a fast-forward would interleave
    *    two histories under one tag sequence; re-clone instead;
    *  - the source truncated history past the branch's batch cut
    *    (floor > B with batches to catch up): the per-tag partitions the
    *    catch-up needs were collapsed into the base; re-clone. (Delete
    *    tables carry no such refusal — they rewrite wholesale to the
    *    source's current content, and the branch ADOPTS the source's
    *    floor so sub-floor as-of bounds refuse there too.);
    *  - a frozen artifact (centroids / merges / `_meta`) changed on the
    *    source since the branch (recluster, retrain, or compaction
    *    rewrote it): caught-up partitions would be encoded under a
    *    geometry the branch does not hold; re-clone.
    *
    * Crash posture: after validation, the [[FfPendingMarker]] publishes
    * atomically — from that point every read and mutating entry on the
    * branch fails fast (the mid-copy branch pairs new appends with the
    * old delete set: not any version that ever existed) until a RE-RUN
    * of the same fast-forward completes idempotently (partition copies
    * are per-tag overwrites, the delete-table rewrite lands the same
    * content) and clears the marker. Conservative refusals, never a
    * silent mixed answer — the same posture as the floor and swap
    * markers.
    *
    * Scale shape: one distributed copy per missing batch partition
    * (partition-pruned reads, no shuffle beyond the write's layout) +
    * one rewrite of the tombstone-sized delete tables. Only the tag
    * list collects to the driver. The source's lease is held through
    * the copy (a concurrent truncation would collapse partitions
    * mid-read), then the branch's own lease through the writes. */
  private[graft] def fastForwardState(
      spark: SparkSession, srcDir: String, dstDir: String,
      tables: Seq[TruncTable], rawCopies: Seq[String] = Nil): (Long, Long) =
      withWriterLock(spark, srcDir) { withWriterLock(spark, dstDir) {
    import org.apache.spark.sql.functions.{col, max}
    val info = readBranchInfo(spark, dstDir).getOrElse(
      throw new IllegalArgumentException(
        s"$dstDir carries no $BranchFile lineage — it is not a clone " +
          "of any state dir; fast-forward only applies to branches " +
          "(cloneStateAsOf destinations)"))
    val qualifiedSrc = qualifyDir(spark, srcDir)
    require(info.src == qualifiedSrc,
      s"$dstDir is a branch of ${info.src}, not of $qualifiedSrc — " +
        "fast-forward must pull from the branch's own source")
    // the SOURCE must be healthy and quiescent at a well-defined head
    checkNoCompactRemnants(spark, srcDir,
      tables.map(_.name) ++ rawCopies.filterNot(_ == "_meta"))
    // the BRANCH: crashed-compaction remnants refuse as everywhere, but
    // our own FfPendingMarker is the re-run path, not a refusal
    val hconf = spark.sessionState.newHadoopConf()
    val dstPath = new org.apache.hadoop.fs.Path(dstDir)
    val fs = dstPath.getFileSystem(hconf)
    tables.foreach { t =>
      val bak = new org.apache.hadoop.fs.Path(dstDir, s"${t.name}__compact_bak")
      require(!fs.exists(bak),
        s"found $bak — a compaction crashed mid-swap on the branch; " +
          "restore it before fast-forwarding")
    }
    require(!fs.exists(new org.apache.hadoop.fs.Path(dstDir, SwapCommitMarker)),
      s"$dstDir has an unfinished multi-table swap — roll it forward " +
        "(recoverSwap) before fast-forwarding")
    val resuming = fs.exists(new org.apache.hadoop.fs.Path(dstDir, FfPendingMarker))
    // frozen artifacts must be byte-identical to the branch's copies:
    // a source refit (recluster / retrain / compacted merges) means the
    // source's post-branch partitions are encoded under a geometry the
    // branch does not hold — refuse and name the remedy
    rawCopies.foreach { name =>
      val srcSum = artifactChecksum(spark, tablePath(spark, srcDir, name))
      val dstSum = artifactChecksum(spark, tablePath(spark, dstDir, name))
      require(srcSum == dstSum,
        s"frozen artifact '$name' differs between $srcDir and the " +
          s"branch $dstDir — the source refit (recluster/retrain) or " +
          "compacted it since the branch, so caught-up partitions would " +
          "mix geometries; re-clone instead of fast-forwarding")
    }
    val (b0, d0) = (info.batch, info.delete)
    // divergence: local tagged writes past the recorded cut mean the
    // branch has its OWN history — two histories cannot interleave
    // under one tag sequence. Skipped on a re-run: the marker gated
    // every write, so tags past the cut are our own half-applied copy.
    // tag maxima over PARTITION columns — dir listings, zero jobs per
    // table where this paid one scan job each (see [[partitionTagValues]];
    // untagged tables yield no tag dirs and are skipped, exactly like
    // the former columns-contains guard — checkNoUntaggedRows below
    // still refuses untagged local rows by name)
    if (!resuming) tables.foreach { t =>
      partitionTagMax(spark, dstDir, t.name, t.tagCol).foreach { maxTag =>
        val cut = if (t.tagCol == "batch_id") b0 else d0
        require(maxTag <= cut,
          s"branch $dstDir DIVERGED: $dstDir/${t.name} carries " +
            s"${t.tagCol}=$maxTag past the branch cut $cut (local " +
            "writes after the clone) — fast-forward would interleave " +
            "two histories; re-clone to branch from the source again")
      }
    }
    def headTag(dir: String, tagCol: String): Long = {
      val maxes = tables.filter(_.tagCol == tagCol).flatMap { t =>
        partitionTagMax(spark, dir, t.name, tagCol)
      }
      if (maxes.isEmpty) 0L else maxes.max
    }
    val (b1, d1) = (headTag(srcDir, "batch_id"), headTag(srcDir, "delete_id"))
    require(b1 >= b0 && d1 >= d0,
      s"source $srcDir head ($b1, $d1) is BEHIND the branch cut " +
        s"($b0, $d0) — the branch lineage does not match this source's " +
        "history (was the source rebuilt?); re-clone")
    if (b1 == b0 && d1 == d0 && !resuming) (b0, d0) // already up to date
    else {
    val srcFloor = readHistoryFloor(spark, srcDir)
    // batch increments must exist as INDIVIDUAL versions: a source that
    // collapsed (b0, floor] into its base partition has no per-tag
    // partitions to copy (and the base double-counts rows the branch
    // already holds) — refuse and name the remedy. Delete tables need
    // no such check: they rewrite wholesale to the source's CURRENT
    // content, collapsed partitions included, and the branch adopts the
    // source's floor below so sub-floor as-of bounds refuse rather than
    // skipping collapsed deletes.
    if (b1 > b0) require(srcFloor <= b0,
      s"source $srcDir truncated history to floor $srcFloor past the " +
        s"branch's batch cut $b0 — the versions the catch-up needs were " +
        "collapsed; re-clone from the current source instead")
    // every source batch table must be TAGGED — validated BEFORE the
    // commit marker publishes: were this to fire after, every re-run
    // would refuse identically, the marker would never clear, and all
    // branch reads would stay permanently gated with no named remedy
    tables.filter(_.tagCol == "batch_id").foreach { t =>
      readTableIfExists(spark, srcDir, t.name).foreach { d =>
        require(d.columns.contains("batch_id"),
          s"fast-forward needs a TAGGED source: $srcDir/${t.name} has " +
            "no batch_id partition column — rebuild the source with " +
            "tagged appends before branching from it")
      }
    }
    // untagged LOCAL rows on the branch escape the tag-max divergence
    // probe above (they carry no tag to max over): an untagged append
    // would surface post-copy as an opaque mixed-partition-layout read
    // error, and untagged tombstones would be silently DISCARDED by the
    // wholesale delete rewrite — refuse by name instead, pre-marker
    tables.foreach { t =>
      checkNoUntaggedRows(spark, dstDir, t.name, t.tagCol,
        "the branch diverged with untagged local writes — re-clone to " +
          "branch from the source again")
    }
    // ---- commit point: every read on the branch now fails fast ----
    publishSmallFile(spark, dstDir, FfPendingMarker,
      s"from=$b0,$d0\nto=$b1,$d1\n")
    // 1. missing append partitions, one per-tag pruned copy each — the
    //    exact layout the pillar's tagged append writes
    val copyTasks: Seq[() => Unit] =
      tables.filter(_.tagCol == "batch_id").flatMap { t =>
        readTableIfExists(spark, srcDir, t.name).toSeq.flatMap { d =>
          require(d.columns.contains("batch_id"),
            s"fast-forward needs a TAGGED source: $srcDir/${t.name} has " +
              "no batch_id partition column")
          // the missing-tag list from the partition listing (zero jobs);
          // the per-tag copy below still reads only that tag's partition
          val tags = partitionTagValues(spark, srcDir, t.name, "batch_id")
            .getOrElse(Nil).filter(tag => tag > b0 && tag <= b1)
            .distinct.sorted
          tags.map { tag => () => {
            val part = d.filter(col("batch_id") === tag).drop("batch_id")
            val w = clusterForWrite(part, t.extraPartitionCols)
              .write.mode("overwrite")
            (if (t.extraPartitionCols.nonEmpty)
               w.partitionBy(t.extraPartitionCols: _*)
             else w)
              .parquet(s"${tablePath(spark, dstDir, t.name)}/batch_id=$tag")
          } }
        }
      }
    // 2. delete-tagged tables rewrite wholesale to the source's current
    //    content — tombstone-sized by design, and the only way to land
    //    correction rows (src_batch attribution) that post-branch
    //    replays added INSIDE pre-branch delete partitions
    val deleteTasks: Seq[() => Unit] =
      tables.filter(_.tagCol == "delete_id").flatMap { t =>
        readTableIfExists(spark, srcDir, t.name).map { d => () => {
          // a present-but-empty source table must not overwrite the branch
          // with a partitionless (schema-less) dir every later read chokes
          // on — same posture as the clone's empty-cut skip
          if (d.head(1).nonEmpty) {
            val w = clusterForWrite(d, "delete_id" +: t.extraPartitionCols)
              .write.mode("overwrite")
            (if (t.extraPartitionCols.nonEmpty)
               w.partitionBy(("delete_id" +: t.extraPartitionCols): _*)
             else w.partitionBy("delete_id"))
              .parquet(tablePath(spark, dstDir, t.name))
          }
        } }
      }
    // every task writes a DISJOINT destination (one batch_id=tag dir per
    // copy, one whole table per delete rewrite) from pruned reads of the
    // source — so they overlap on a bounded pool (guide §2.6) instead of
    // serializing tens of small per-tag jobs behind one another; the
    // marker above already gates every read until the whole set lands,
    // and a crash re-runs the same idempotent overwrites whichever
    // subset completed
    runOverlapped(copyTasks ++ deleteTasks)
    // adopt the source's floor: the delete rewrite above may import
    // partitions the source collapsed — the branch must refuse the same
    // sub-floor bounds (conservative refusal over silent wrong answers)
    if (srcFloor > readHistoryFloor(spark, dstDir))
      writeHistoryFloor(spark, dstDir, srcFloor)
    writeBranchInfo(spark, dstDir, BranchInfo(qualifiedSrc, b1, d1))
    fs.delete(new org.apache.hadoop.fs.Path(dstDir, FfPendingMarker), false)
    (b1, d1)
    }
  } }
}
