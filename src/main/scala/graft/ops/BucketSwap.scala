package graft.ops

/** The commit protocol of every incrementally maintained artifact — the
  * one place that knows it. An artifact is a `partCol=N` partitioned
  * parquet tree plus underscore-prefixed frontier files (invisible to
  * parquet file listing) holding "batchId,maxId".
  *
  *  - Rewrite ([[swap]]): write only the touched `partCol=N` dirs into
  *    the sibling `$path.merge` tree, then per bucket move the live dir
  *    ASIDE into `$path.merge.aside` (outside the artifact path, so
  *    partition discovery never sees it), move the rewrite in, and
  *    delete the aside LAST. A crash at any step leaves either the old
  *    or the new bucket intact on disk (never neither); [[recover]]
  *    heals on the next entry, and the caller's unadvanced frontier
  *    makes the interrupted batch replay.
  *  - Append ([[orderedAppend]]): absorb a replayed batch id, reject a
  *    batch whose ids do not follow the ingested ones, append, then
  *    advance `_ingest_frontier` ([[writeFrontier]]: tmp + ATOMIC_MOVE).
  *
  * Callers: [[Dedup.compactLshIndex]] and [[Dedup.streamingNovelty]]
  * (novelty index), [[Dedup.maintainClusterMap]] (cluster map + index),
  * [[Similarity.maintainKnnGraph]] and [[Similarity.maintainKnnGraphAnn]]
  * (kNN graph + vector/cell table).
  */
private[graft] object BucketSwap {

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Hardlink tree: the near-free way to give a maintenance exercise its
    * own mutable view of a prefix artifact (a byte copy in the timed body
    * dominated the maintenance boards at fixture scale). SAFE because
    * maintenance never writes a data file in place — parquet writes
    * create new files, [[swap]] moves/deletes directory ENTRIES, and
    * [[writeFrontier]] goes through a fresh `.tmp` + ATOMIC_MOVE — so
    * unlinking or replacing a link never touches the prefix's inodes.
    * Falls back to a byte copy per file if the filesystem refuses the
    * link (cross-device, no-hardlink fs). */
  def linkTree(src: String, dst: String): Unit = {
    val s0 = java.nio.file.Paths.get(src)
    val d0 = java.nio.file.Paths.get(dst)
    java.nio.file.Files.walk(s0).forEach { q =>
      val t = d0.resolve(s0.relativize(q))
      if (java.nio.file.Files.isDirectory(q)) java.nio.file.Files.createDirectories(t)
      else {
        java.nio.file.Files.createDirectories(t.getParent)
        try java.nio.file.Files.createLink(t, q)
        catch {
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            java.nio.file.Files.copy(q, t,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        ()
      }
    }
    ()
  }

  /** Heal an artifact left by a swap interrupted mid-flight:
    *  - live bucket MISSING, aside present → restore the aside copy
    *    (pre-merge data, still complete; the batch replays);
    *  - live present AND aside present → the swap committed, drop the
    *    aside;
    *  - a stale `.merge` rewrite tree → dead, drop it.
    * Returns restored bucket ids. No-crash cost: two existence checks.
    */
  def recover(path: String, partCol: String): Seq[Int] = {
    val aside = new java.io.File(s"$path.merge.aside")
    val restored = scala.collection.mutable.ListBuffer[Int]()
    if (aside.exists()) {
      Option(aside.listFiles()).getOrElse(Array.empty).toSeq
        .filter(d => d.isDirectory && d.getName.startsWith(s"$partCol=")).foreach { d =>
          val live = new java.io.File(s"$path/${d.getName}")
          if (!live.exists()) {
            java.nio.file.Files.move(d.toPath, live.toPath)
            restored += d.getName.stripPrefix(s"$partCol=").toInt
          }
        }
      rmTree(aside)
    }
    rmTree(new java.io.File(s"$path.merge"))
    restored.toSeq.sorted
  }

  /** Swap `buckets` of the `.merge` rewrite tree into the live artifact
    * (see class doc for the crash-ordering argument). A bucket with no
    * rewrite dir is DRAINED: its live dir is removed. */
  def swap(path: String, partCol: String, buckets: Seq[Int]): Unit = {
    val tmp = s"$path.merge"
    if (buckets.nonEmpty)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp.aside"))
    buckets.foreach { b =>
      val dst = java.nio.file.Paths.get(s"$path/$partCol=$b")
      if (java.nio.file.Files.exists(dst))
        java.nio.file.Files.move(dst, java.nio.file.Paths.get(s"$tmp.aside/$partCol=$b"))
      val src = java.nio.file.Paths.get(s"$tmp/$partCol=$b")
      if (java.nio.file.Files.exists(src)) java.nio.file.Files.move(src, dst)
    }
    rmTree(new java.io.File(s"$tmp.aside"))
    rmTree(new java.io.File(tmp))
  }

  /** Read `$path/$name` as "batchId,maxId", or the given defaults. */
  def readFrontier(path: String, name: String): (Long, Long) = {
    val f = java.nio.file.Paths.get(s"$path/$name")
    if (java.nio.file.Files.exists(f)) {
      val parts = java.nio.file.Files.readString(f).trim.split(",")
      (parts(0).toLong, if (parts.length > 1) parts(1).toLong else Long.MinValue)
    } else (-1L, Long.MinValue)
  }

  /** Advance `$path/$name` to "batchId,maxId" via tmp + ATOMIC_MOVE
    * (the watermark-persist device). */
  def writeFrontier(path: String, name: String, batchId: Long, maxId: Long): Unit = {
    val tmpF = java.nio.file.Paths.get(s"$path/$name.tmp")
    java.nio.file.Files.writeString(tmpF, s"$batchId,$maxId")
    java.nio.file.Files.move(tmpF, java.nio.file.Paths.get(s"$path/$name"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Frontier-guarded ordered append of batch `batchId` to the artifact
    * at `path`, whose `_ingest_frontier` holds the last appended batch id
    * and the largest id ingested so far. `bounds` is the batch's
    * (min id, max id) row — a null min means an empty batch.
    *  - `batchId` at or below the frontier's batch id: a foreachBatch
    *    replay of an appended batch — absorbed, nothing is written,
    *    returns false;
    *  - min id at or below the ingested max: the ingestion-order
    *    contract every incremental probe relies on ("earlier ingested"
    *    ≡ "smaller id") is broken — fails loudly;
    *  - otherwise runs `append`, then advances the frontier LAST, so a
    *    crash inside `append` replays the batch. Returns true.
    * An empty batch appends nothing and leaves the frontier alone.
    */
  def orderedAppend(path: String, batchId: Long, bounds: => org.apache.spark.sql.Row)
                   (append: => Unit): Boolean = {
    val (lastBatch, lastMax) = readFrontier(path, "_ingest_frontier")
    if (batchId <= lastBatch) false
    else {
      val b = bounds
      if (!b.isNullAt(0)) {
        val (mn, mx) = (b.getLong(0), b.getLong(1))
        require(mn > lastMax,
          s"ingestion-order contract broken: batch $batchId min id $mn <= " +
            s"already-ingested max $lastMax of $path — incremental maintenance " +
            "assumes id-ordered ingestion; re-ingest out-of-order data " +
            "through a full rebuild instead")
        append
        writeFrontier(path, "_ingest_frontier", batchId, math.max(lastMax, mx))
      }
      true
    }
  }
}
