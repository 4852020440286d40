package graft.operators

import graft.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one commit, replay, compaction and crash-cleanup protocol of
  * the incremental parquet stores: [[InvertedIndexStore]],
  * [[AnnIndexStore]] and [[IncrementalDedup]] keep their batches here,
  * and [[BpeVocabStore]] lands its write-once vocabulary through
  * [[appendAtomic]].
  *
  * A store is a set of KINDS (e.g. postings + doclen, assign +
  * pq_assign, or the dedup store's one kind rooted at the store path
  * itself), each a directory of immutable subdirectories:
  *  - `batch-<id>`   — one ingest batch, landed by one atomic rename,
  *    replay-keyed by `<id>`;
  *  - `compact-<uuid>` — a compactor's snapshot, INVISIBLE to readers
  *    until a manifest generation names it live.
  * `manifest/gen-<seq>-<uuid>/` holds (kind, dir, live) rows; the
  * highest generation is authoritative, each lands fully-formed by one
  * atomic rename, and a store that never compacted has none (every
  * `batch-*` dir is then live).
  *
  * Crash analysis (per [[compact]] call, unchanged from r19):
  *  - crash after snapshot, before manifest: `compact-*` dirs are
  *    named live by no manifest, ignored by readers, swept as stale
  *    by a later compact;
  *  - crash after manifest, before the absorbed-dir reclaim: the new
  *    manifest already excludes the absorbed dirs from the live set;
  *    the next compact finishes the reclaim first.
  * A batch ingested WHILE a compaction runs is mentioned by no
  * manifest, so it stays live alongside the new generation. Only
  * concurrent COMPACTORS are undefined (single-maintenance-job
  * discipline).
  *
  * REPLAY RETENTION (r20, VERDICT r19 #5): r19 parked absorbed
  * `batch-*` dirs under `.absorbed/` forever as replay records — and
  * (ADVICE r19 medium) parked superseded `compact-*` snapshots there
  * too, retaining one full store copy per compaction. Now each
  * manifest generation records the absorbed batch IDS themselves
  * (rows under kind `replay:<kind>`, carried forward into every later
  * generation), so:
  *  - absorbed `batch-*` dirs are DELETED once their id is
  *    manifest-recorded — a replayed [[committedBatch]] lookup answers
  *    [[Recorded]] from the manifest alone, no parked copy needed;
  *  - absorbed `compact-*` dirs are always deleted (no replay key —
  *    nothing ever re-submits a compaction snapshot);
  *  - legacy `.absorbed/batch-*` dirs from r19-era compactions are
  *    migrated: the next compaction records their ids and deletes
  *    them; until then [[committedBatch]] still finds them on disk;
  *  - superseded `manifest/gen-*` generations are swept once older
  *    than max(staleMs, moveGraceMs) — readers resolve only the
  *    latest, the grace covers one that listed generations just
  *    before a swap.
  */
private[graft] object ManifestStore {

  /** One store kind: its name (the manifest key), its data directory,
    * and the physical layout a compaction snapshot is rewritten into
    * (partitioning + sort that keeps probe pruning intact). */
  final case class Kind(name: String, path: String,
                        layout: DataFrame => DataFrame = identity)

  private def hfs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def storeExists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = hfs(spark, path)
    fs.exists(p)
  }

  /** Lands `df` as `<storePath>/<dirName>` by one atomic rename. A plain
    * `mode("append")` writes task files straight into the store, so a
    * crash mid-append would leave a PARTIAL batch that readers cannot
    * tell from a whole one. The frame is written to the sibling
    * `.<store>-staging-<dirName>` and renamed in, so a batch appears
    * fully or not at all; a rename lost to a concurrent writer of the
    * same name counts as success. A crashed writer's staging dir is
    * swept by a later [[compact]]. */
  def appendAtomic(spark: SparkSession, df: DataFrame,
                   storePath: String, dirName: String): Unit = {
    val (fs, store) = hfs(spark, storePath)
    fs.mkdirs(store)
    val tmp = new org.apache.hadoop.fs.Path(
      store.getParent, s".${store.getName}-staging-$dirName")
    val dst = new org.apache.hadoop.fs.Path(store, dirName)
    df.write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(tmp, dst) && !fs.exists(dst))
      throw new java.io.IOException(
        s"atomic store append failed: could not rename $tmp into $store")
  }

  /** The dir an ingest batch lands in; its id is the replay key. */
  def batchName(batchId: String): String = s"batch-$batchId"

  def manifestPath(storePath: String): String = storePath + "/manifest"

  private def replayKind(kind: String): String = "replay:" + kind

  /** A manifest generation's contents are IMMUTABLE (the dir appears
    * fully-formed by one atomic rename and is never rewritten), so the
    * parsed rows cache per generation path — a probe touches the
    * manifest several times (per-kind reads, meta, replay checks) and
    * each uncached touch is a driver-side parquet job (~150 ms).
    * Bounded: one entry per generation ever read in this JVM,
    * single-entry evicted at the 256 cap (the AvroSource schema-cache
    * discipline). */
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[(String, String), Boolean]]()

  /** (generation seq, (kind, dir) -> live) of the highest manifest
    * generation, if any. Generation dir names embed a zero-padded seq
    * so lexical max == numeric max; each appears only by atomic
    * rename, so existence => readable. */
  def latestManifest(spark: SparkSession, storePath: String)
  : Option[(Long, Map[(String, String), Boolean])] = {
    val (fs, mp) = hfs(spark, manifestPath(storePath))
    if (!fs.exists(mp)) return None
    val gens = fs.listStatus(mp)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen-"))
    if (gens.isEmpty) return None
    val latest = gens.maxBy(_.getPath.getName)
    val seq = latest.getPath.getName.stripPrefix("gen-").take(9).toLong
    val key = latest.getPath.toString
    var evicting = true
    while (evicting && manifestCache.size >= 256 &&
        !manifestCache.containsKey(key)) {
      val it = manifestCache.keySet.iterator
      if (it.hasNext) { manifestCache.remove(it.next()); () }
      else evicting = false // weakly-consistent iterator raced to empty
    }
    val rows = manifestCache.computeIfAbsent(key, { _ =>
      spark.read.parquet(key).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    })
    Some((seq, rows))
  }

  /** The live data dirs of one kind, as absolute paths: dirs the
    * manifest names live, plus any `batch-*` dir the manifest does not
    * mention (ingested after the last compaction — or ever, for a
    * never-compacted store). `compact-*` dirs named by NO manifest are
    * a crashed compactor's leftovers and are never read. */
  def liveDirs(spark: SparkSession, storePath: String,
               kind: Kind): Seq[String] = {
    val (fs, kp) = hfs(spark, kind.path)
    if (!fs.exists(kp)) return Nil
    val onDisk = fs.listStatus(kp)
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.startsWith("batch-") || n.startsWith("compact-"))
    val names = latestManifest(spark, storePath) match {
      case None => onDisk.filter(_.startsWith("batch-"))
      case Some((_, m)) =>
        onDisk.filter { n =>
          m.get((kind.name, n)) match {
            case Some(live) => live
            case None       => n.startsWith("batch-")
          }
        }
    }
    names.sorted.map(n => s"${kind.path}/$n").toSeq
  }

  /** The live rows of one kind, or None before its first batch lands. */
  def readLive(spark: SparkSession, storePath: String,
               kind: Kind): Option[DataFrame] = {
    val dirs = liveDirs(spark, storePath, kind)
    if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
  }

  /** How a replayed batch id is known committed. */
  sealed trait Committed
  /** Its dir is still readable (live, or legacy-parked under
    * `.absorbed/`): the replay can return the recorded rows. */
  final case class Stored(path: String) extends Committed
  /** Its id is recorded in the live manifest and its dir has been
    * reclaimed: the batch IS committed (its rows live inside a
    * compacted generation, no longer separable), so the replay must
    * append nothing — callers return an empty frame. */
  case object Recorded extends Committed

  /** Is `name` (`batch-<id>`) recorded as an absorbed replay id of
    * `kind` in the live manifest? Rows are stamped `name@<seq>` since
    * the r20 retention change; pre-stamp rows match exactly. */
  def recordedReplay(spark: SparkSession, storePath: String,
                     kind: String, name: String): Boolean =
    latestManifest(spark, storePath)
      .exists { case (_, m) => replayRecorded(m, kind, name) }

  /** Replay-row lookup tolerant of the r20 retention stamp: a row is
    * either the bare `batch-<id>` (pre-stamp generations) or
    * `batch-<id>@<absorbSeq>`. */
  private def replayRecorded(m: Map[(String, String), Boolean],
                             kind: String, name: String): Boolean = {
    val rk = replayKind(kind)
    // the suffix must be a NUMERIC stamp: a legacy id that itself
    // contains '@' ("batch-x@y") must not make a lookup for "batch-x"
    // answer committed
    m.contains((rk, name)) || m.keysIterator.exists { case (k, n) =>
      k == rk && n.startsWith(name + "@") &&
        n.substring(name.length + 1).toLongOption.isDefined
    }
  }

  /** The committed status of a batch id for one kind, if any. Every
    * append asks this first, so batch ids are checked here: an id must
    * be non-empty (a stable replay key) and may not contain '@', which
    * delimits the manifest's replay-retention stamp. */
  def committedBatch(spark: SparkSession, storePath: String,
                     kind: Kind, batchId: String): Option[Committed] = {
    require(batchId.nonEmpty, "a store append needs a stable batch id")
    require(!batchId.contains('@'),
      "batch ids may not contain '@' — it delimits the manifest's " +
      "replay-retention stamp (batch-<id>@<seq>)")
    val name = batchName(batchId)
    Seq(s"${kind.path}/$name", s"${kind.path}/.absorbed/$name")
      .find(p => storeExists(spark, p))
      .map(p => Stored(p): Committed)
      .orElse(if (recordedReplay(spark, storePath, kind.name, name))
        Some(Recorded) else None)
  }

  private def listDirs(spark: SparkSession, path: String): Seq[String] = {
    val (fs, p) = hfs(spark, path)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  private def dirName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** Fold each kind's live dirs (≥ 2 of them — a kind already at one
    * dir is carried forward untouched) into one compacted snapshot and
    * swap the manifest. Statistics are preserved exactly: the snapshot
    * is a row-for-row union of the live dirs, re-laid-out by the
    * kind's `layout`. Absorbed batch ids become `replay:*` manifest
    * rows; absorbed dirs are then reclaimed (see object scaladoc).
    *
    * `eligible` filters which live dirs a kind may absorb (the
    * inverted index excludes ORPHAN doclen batches whose postings
    * commit marker never landed — absorbing one would let its retry
    * double-count). Dirs it excludes stay live and unmentioned.
    *
    * `moveGraceMs`: a probe's DataFrame pins explicit batch paths at
    * plan time, so reclaiming absorbed dirs the instant the manifest
    * swaps would FileNotFound any reader that resolved its dir list
    * under the previous generation. With a positive grace, the swap
    * leaves absorbed dirs in place (readers of the old generation
    * keep reading them; new readers exclude them via the manifest)
    * and a LATER compact reclaims them once the live manifest is at
    * least `moveGraceMs` old — until then it returns without writing
    * a new generation, because a gen-(k+1) manifest would re-absorb
    * dirs gen-k already absorbed. Serving deployments pass a grace
    * comfortably above their longest query; 0 (the default) keeps the
    * immediate-reclaim behavior for single-writer batch pipelines. */
  def compact(spark: SparkSession, storePath: String, kinds: Seq[Kind],
              eligible: Map[String, Seq[String]] => Map[String, Seq[String]]
                = identity,
              staleMs: Long = 24L * 3600 * 1000,
              moveGraceMs: Long = 0L,
              replayHorizonGens: Long = Long.MaxValue): Unit = {
    if (kinds.forall(k => !storeExists(spark, k.path))) return
    // finish a predecessor's pending reclaims first — or, under a
    // grace window, wait until in-flight readers of the older
    // generations have drained before touching anything
    if (hasPendingMoves(spark, storePath, kinds)) {
      if (moveGraceMs > 0 &&
          manifestAgeMs(spark, storePath).exists(_ < moveGraceMs)) return
      finishMoves(spark, storePath, kinds)
    }
    sweepStale(spark, storePath, kinds, staleMs)
    sweepOldGenerations(spark, storePath, math.max(staleMs, moveGraceMs))
    val live: Map[String, Seq[String]] =
      kinds.map(k => k.name -> liveDirs(spark, storePath, k)).toMap
    val toAbsorb = eligible(live).filter(_._2.size >= 2)
    if (toAbsorb.isEmpty) return
    val kindByName = kinds.map(k => k.name -> k).toMap
    val uuid = java.util.UUID.randomUUID().toString
    val snapName = s"compact-$uuid"
    // snapshots first: invisible until the manifest names them live
    toAbsorb.toSeq.sortBy(_._1).foreach { case (kn, dirs) =>
      val k = kindByName(kn)
      val snap = Checkpoints.ckpt(k.layout(spark.read.parquet(dirs: _*)))
      appendAtomic(spark, snap, k.path, snapName)
      Checkpoints.release(snap)
    }
    val prev = latestManifest(spark, storePath)
    val prevRows = prev.map(_._2).getOrElse(Map.empty)
    val absorbedNow: Set[(String, String)] = toAbsorb.toSeq
      .flatMap { case (kn, dirs) => dirs.map(p => (kn, dirName(p))) }.toSet
    // carry forward: previous replay ids (subject to the retention
    // stamp below), plus live rows of dirs not absorbed this round
    // (a kind already at one compacted dir keeps its visibility)
    val carriedReplay = prevRows.keys
      .filter(_._1.startsWith("replay:")).toSeq
    val carriedLive = prevRows.toSeq.collect {
      case ((kn, n), true) if !kn.startsWith("replay:") &&
        !absorbedNow((kn, n)) &&
        storeExists(spark, s"${kindByName(kn).path}/$n") => (kn, n)
    }
    // legacy r19-era parked replay records migrate into the manifest
    // (then finishMoves below reclaims the parked dirs)
    val legacyParked = kinds.flatMap { k =>
      listDirs(spark, s"${k.path}/.absorbed")
        .filter(_.startsWith("batch-"))
        .map(n => (replayKind(k.name), n))
    }
    val newReplay = absorbedNow.toSeq.collect {
      case (kn, n) if n.startsWith("batch-") => (replayKind(kn), n)
    }
    val seq = prev.map(_._1).getOrElse(0L) + 1L
    // Replay-id retention (r20 review): each replay row is stamped with
    // the generation seq that recorded it (`batch-<id>@<seq>`), so the
    // manifest can RETIRE ids older than `replayHorizonGens` generations
    // instead of growing one row per batch ever ingested. Default keeps
    // them forever (metadata-only rows — safe, just unbounded); an
    // operator bounds it once no writer can still retry a batch that
    // old. A retired id's re-submission would RE-INGEST, so the
    // horizon must exceed the longest crash-retry window. Rows recorded
    // by pre-horizon generations (no stamp) are stamped `seq - 1` at
    // first carry, aging from their first post-upgrade compaction.
    // suffix parse is defensive: new batch ids reject '@' at append
    // time, but a PRE-retention store could hold absorbed ids that
    // contain one — a non-numeric tail is part of the id, not a stamp
    def stamped(rk: String, n: String, default: Long): (String, (String, Long)) = {
      val i = n.lastIndexOf('@')
      val sec = if (i < 0) None else n.substring(i + 1).toLongOption
      sec match {
        case None    => (rk + " " + n) -> (n, default)
        case Some(s) => (rk + " " + n.substring(0, i)) -> (n.substring(0, i), s)
      }
    }
    val replayRows: Seq[(String, String)] =
      (carriedReplay.map { case (rk, n) => stamped(rk, n, seq - 1) } ++
        (newReplay ++ legacyParked).map { case (rk, n) => stamped(rk, n, seq) })
        .groupBy(_._1).toSeq
        .map { case (key, hits) =>
          val rk = key.substring(0, key.indexOf(' '))
          val (base, s) = hits.map(_._2).minBy(_._2)
          (rk, s"$base@$s", s)
        }
        .collect { case (rk, n, s) if seq - s <= replayHorizonGens => (rk, n) }
        .sortBy(identity)
    import spark.implicits._
    val rows: Seq[(String, String, Boolean)] =
      (toAbsorb.keys.toSeq.sorted.map(kn => (kn, snapName, true)) ++
        carriedLive.map { case (kn, n) => (kn, n, true) } ++
        absorbedNow.toSeq.map { case (kn, n) => (kn, n, false) } ++
        replayRows.map { case (rk, n) => (rk, n, false) }).distinct
    appendAtomic(spark, rows.toDF("kind", "dir", "live"),
      manifestPath(storePath), f"gen-$seq%09d-$uuid")
    if (moveGraceMs <= 0) finishMoves(spark, storePath, kinds)
  }

  /** True when the live manifest marks dirs absorbed that still sit at
    * the top level (a crashed predecessor's — or a grace window's —
    * pending reclaims), or when legacy parked dirs await migration
    * sweep after their ids were manifest-recorded. */
  private def hasPendingMoves(spark: SparkSession, storePath: String,
                              kinds: Seq[Kind]): Boolean =
    latestManifest(spark, storePath).exists { case (_, m) =>
      m.exists { case ((kind, name), live) =>
        !live && !kind.startsWith("replay:") &&
          kinds.find(_.name == kind)
            .exists(k => storeExists(spark, s"${k.path}/$name"))
      }
    }

  /** Age of the newest manifest generation dir, if any. */
  private def manifestAgeMs(spark: SparkSession,
                            storePath: String): Option[Long] = {
    val (fs, mp) = hfs(spark, manifestPath(storePath))
    if (!fs.exists(mp)) return None
    val gens = fs.listStatus(mp)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen-"))
    if (gens.isEmpty) None
    else Some(System.currentTimeMillis() -
      gens.maxBy(_.getPath.getName).getModificationTime)
  }

  /** Reclaim every top-level dir the live manifest marks absorbed —
    * idempotent, re-runnable after a crash at any point (each reclaim
    * is one delete/rename; an already-reclaimed dir is simply absent).
    *  - `compact-*`: deleted (a superseded snapshot has no replay
    *    value — ADVICE r19 medium: r19 parked these forever, one full
    *    store copy per compaction);
    *  - `batch-*` with a manifest-recorded replay id: deleted (the id
    *    record IS the replay answer);
    *  - `batch-*` WITHOUT a recorded id (an r19-era manifest's crash
    *    window): parked under `.absorbed/` as before — deleting would
    *    re-enable a double-ingest of that id.
    * Then sweeps `.absorbed/` itself: parked `batch-*` dirs whose ids
    * the manifest now records, and parked `compact-*` dirs
    * unconditionally. */
  private def finishMoves(spark: SparkSession, storePath: String,
                          kinds: Seq[Kind]): Unit = {
    latestManifest(spark, storePath).foreach { case (_, m) =>
      m.foreach { case ((kind, name), live) =>
        if (!live && !kind.startsWith("replay:")) {
          kinds.find(_.name == kind).foreach { k =>
            val (fs, src) = hfs(spark, s"${k.path}/$name")
            if (fs.exists(src)) {
              if (name.startsWith("compact-") ||
                  replayRecorded(m, kind, name)) {
                fs.delete(src, true); ()
              } else {
                val dstDir = new org.apache.hadoop.fs.Path(s"${k.path}/.absorbed")
                fs.mkdirs(dstDir)
                val dst = new org.apache.hadoop.fs.Path(dstDir, name)
                if (!fs.rename(src, dst) && !fs.exists(dst))
                  throw new java.io.IOException(
                    s"compaction could not park absorbed dir $src")
              }
            }
          }
        }
      }
      // sweep parked records the manifest now carries (legacy
      // migration), and parked compact snapshots (never replay keys)
      kinds.foreach { k =>
        listDirs(spark, s"${k.path}/.absorbed").foreach { n =>
          if (n.startsWith("compact-") || replayRecorded(m, k.name, n)) {
            val (fs, p) = hfs(spark, s"${k.path}/.absorbed/$n")
            fs.delete(p, true); ()
          }
        }
      }
    }
  }

  /** Delete what crashed writers left behind, once older than `staleMs`
    * (a LIVE writer's leftovers are younger than any sane staleness
    * bound):
    *  - `compact-*` dirs no manifest generation names live — a crashed
    *    compactor's snapshots, invisible to readers but paying storage;
    *  - `.<dir>-staging-*` siblings of each kind dir and of the manifest
    *    dir — an [[appendAtomic]] that died before its rename. */
  private def sweepStale(spark: SparkSession, storePath: String,
                         kinds: Seq[Kind], staleMs: Long): Unit = {
    val liveNow: Set[(String, String)] =
      latestManifest(spark, storePath) match {
        case Some((_, m)) => m.collect { case (k, true) => k }.toSet
        case None         => Set.empty
      }
    val now = System.currentTimeMillis()
    def sweep(dir: org.apache.hadoop.fs.Path)(leftover: String => Boolean): Unit = {
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir))
        fs.listStatus(dir).foreach { st =>
          if (st.isDirectory && leftover(st.getPath.getName) &&
              now - st.getModificationTime > staleMs)
            fs.delete(st.getPath, true)
        }
    }
    kinds.foreach { k =>
      sweep(new org.apache.hadoop.fs.Path(k.path))(n =>
        n.startsWith("compact-") && !liveNow((k.name, n)))
    }
    (kinds.map(_.path) :+ manifestPath(storePath)).foreach { path =>
      val p = new org.apache.hadoop.fs.Path(path)
      if (p.getParent != null)
        sweep(p.getParent)(_.startsWith(s".${p.getName}-staging-"))
    }
  }

  /** Delete superseded manifest generations once older than `graceMs`
    * (VERDICT r19 #5: they accumulated forever). Readers resolve only
    * the LATEST generation; the grace covers a reader that listed
    * generations just before a swap and is about to read the old
    * gen's parquet. */
  private def sweepOldGenerations(spark: SparkSession, storePath: String,
                                  graceMs: Long): Unit = {
    val (fs, mp) = hfs(spark, manifestPath(storePath))
    if (!fs.exists(mp)) return
    val gens = fs.listStatus(mp)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen-"))
    if (gens.length <= 1) return
    val latest = gens.maxBy(_.getPath.getName).getPath.getName
    val now = System.currentTimeMillis()
    gens.foreach { st =>
      if (st.getPath.getName != latest &&
          now - st.getModificationTime > graceMs)
        fs.delete(st.getPath, true)
    }
  }
}
