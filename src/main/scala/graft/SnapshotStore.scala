package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._

import graft.operators.IvfFlat

/** The snapshot store of a [[GraftEngine]]: the per-index manifest (the
  * commit point), its memo, the versioned snapshot dirs and their GC,
  * snapshot export/import and the incremental compaction that writes a
  * new version without retraining. */
private[graft] trait SnapshotStore { self: GraftEngine =>

  /** `version` points at the snapshot directory (`v<version>/`) holding
    * this build's artifacts: readers resolve paths THROUGH the manifest, so
    * a build writes its whole snapshot into a fresh versioned dir and the
    * single manifest write is the atomic commit point — the snapshot-
    * isolation form of the reference's temp-dir-rename atomic snapshot
    * (DeltaVectorIndex.cs:160-212). version 0 = never built.
    * `headDirty` = 1 when the record log may hold rows newer than the
    * build watermark (any write since the last build/compaction); 0 right
    * after a build. Lets the search plan skip the whole fresh-head subtree
    * (log scan, LWW window, mask anti-joins) when the tail is known
    * current — the overwhelmingly common read regime of a serving index. */
  case class Manifest(epoch: Long, buildWatermark: Long, algo: String = "IVF_FLAT",
                      nVectors: Long = 0L, version: Long = 0L, metric: String = "L2",
                      headDirty: Int = 1) {
    /** The on-disk form: [[manifest]] and [[exportSnapshot]] write it,
      * [[Manifest.parse]] reads it back. */
    def render: String =
      s"""{"epoch": $epoch, "buildWatermark": $buildWatermark, "algo": ${Json.quote(algo)}, "nVectors": $nVectors, "version": $version, "metric": ${Json.quote(metric)}, "headDirty": $headDirty}"""

    /** The tail's geometry (KMeans clusters, HNSW links, PQ codebooks) is
      * trained for the build metric: scoring probes with another one
      * silently degrades recall, so a search must use it. FLAT tails are
      * one exact-scanned list, metric-agnostic; an unknown ("") metric
      * skips the check. */
    def requireMetric(metric: String): Unit =
      require(algo == "FLAT" || this.metric.isEmpty || metric.equalsIgnoreCase(this.metric),
        s"index built with metric=${this.metric}; cannot search with metric=$metric")
  }

  object Manifest {
    /** Strict read of [[Manifest.render]]'s output. Truncated or
      * malformed JSON, and a missing or non-integer `epoch`,
      * `buildWatermark`, `nVectors` or `version`, throw an
      * IllegalStateException naming the file and the field — a damaged
      * manifest must never read as epoch 0 / version 0 (an empty or
      * "not found" index). Absent legacy fields keep their documented
      * defaults: `algo` IVF_FLAT, `metric` unknown (""), which skips
      * the cross-metric gate rather than asserting a metric the build
      * may not have used, and `headDirty` 1 (correctness over speed). */
    def parse(file: String, text: String): Manifest = {
      val o = Json.parse(s"corrupt manifest $file", text, new IllegalStateException(_))
      Manifest(o.need("epoch")(o.long), o.need("buildWatermark")(o.long),
        o.string("algo").getOrElse("IVF_FLAT"), o.need("nVectors")(o.long),
        o.need("version")(o.long), o.string("metric").getOrElse(""),
        o.int("headDirty").getOrElse(1))
    }
  }

  private def manifestFile(tenant: String, index: String) =
    Paths.get(s"${indexPath(tenant, index)}/manifest.json")

  /** Current snapshot dir for reads (requires a completed build). */
  private[graft] def snapDir(tenant: String, index: String, m: Manifest): String = {
    if (m.version <= 0) throw new NotFoundException("index", s"$tenant/$index has no built snapshot")
    s"${indexPath(tenant, index)}/v${m.version}"
  }

  /** Parsed-manifest memo keyed by the file's (mtime, size): the wire
    * serving path reads the manifest on EVERY call, and a steady-state
    * search was paying a full read + parse per query — with
    * per-call disk reads also riding this host's external IO storms
    * straight into serving tails. Freshness stays anchored to the
    * filesystem (the atomic-rename commit bumps mtime, so ANY writer —
    * this JVM or another process — invalidates the memo on its next
    * stat); same-JVM writers additionally drop the entry synchronously
    * in [[writeManifest]], so only a cross-process write landing within
    * one mtime tick AND at identical byte size could alias (epoch and
    * version both monotonically widen, so sizes collide only between
    * same-width stamps). */
  private val manifestMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (java.nio.file.attribute.FileTime, Long, Manifest)]()

  def manifest(tenant: String, index: String): Manifest = {
    val f = manifestFile(tenant, index)
    val attrs =
      try Some(Files.readAttributes(
        f, classOf[java.nio.file.attribute.BasicFileAttributes]))
      catch {
        // ONLY absence means "never built" — mapping a transient I/O or
        // permission error to the never-built manifest would serve
        // index-not-found for a live index mid-storm; propagate those
        case _: java.nio.file.NoSuchFileException => None
      }
    attrs match {
      case None =>
        // metric = "" (unknown), NOT the case-class "L2" default: a
        // never-built index has recorded no metric, so validation must
        // be skipped — the same convention as an absent field in parse
        Manifest(0L, Long.MinValue, "IVF_FLAT", metric = "")
      case Some(a) =>
        val key = f.toString
        val hit = manifestMemo.get(key)
        if (hit != null && hit._1 == a.lastModifiedTime && hit._2 == a.size)
          hit._3
        else {
          val m = Manifest.parse(f.toString, Json.readFile(f))
          manifestMemo.put(key, (a.lastModifiedTime, a.size, m))
          m
        }
    }
  }

  private[graft] def writeManifest(tenant: String, index: String, m: Manifest): Unit = {
    val f = manifestFile(tenant, index)
    Files.createDirectories(f.getParent)
    // write-then-atomic-rename: the manifest swap IS the commit
    val tmp = Paths.get(f.toString + ".tmp")
    Files.writeString(tmp, m.render, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
    Files.move(tmp, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // a same-JVM writer must never serve even one stale read off the memo
    manifestMemo.remove(f.toString)
  }

  private[graft] def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => Files.deleteIfExists(q))
    }

  /** The dir snapshot `version` is written into, emptied first: a build
    * that died before its manifest rename leaves that dir behind, and
    * none of its files may survive into the snapshot written over it. */
  private[graft] def freshSnapshotDir(tenant: String, index: String, version: Long): String = {
    val dir = s"${indexPath(tenant, index)}/v$version"
    deleteTree(Paths.get(dir))
    dir
  }

  /** Best-effort GC of superseded snapshot dirs (single-writer model). */
  private[graft] def gcOldSnapshots(tenant: String, index: String, keep: Long): Unit = {
    val base = Paths.get(indexPath(tenant, index))
    if (Files.isDirectory(base)) {
      Files.list(base).forEach { p =>
        val name = p.getFileName.toString
        if (name.startsWith("v") && name.drop(1).forall(_.isDigit) &&
            name.drop(1).toLong < keep) {
          try deleteTree(p)
          catch { case _: java.io.IOException => () }
        }
      }
    }
  }

  def epoch(tenant: String, index: String): Long = manifest(tenant, index).epoch

  /** Commits `snap`, the manifest of a version just written into its
    * fresh dir, as the index's current one, with the next epoch (its own
    * epoch field is ignored). Concurrent-writer guard (e.g. an
    * upsertStream micro-batch landing between the state read and this
    * commit): any write bumps the epoch, so an epoch moved since
    * `readEpoch` means the log holds rows this snapshot never saw — the
    * head must stay dirty or they'd be invisible. The re-read and the
    * rename sit under the per-index manifest lock, so a writer can't slip
    * its bump between them (it either lands before the re-read or after
    * the rename, where [[bumpEpoch]] itself re-sets headDirty=1). The
    * previous version stays, since lazy frames that search() returned
    * before the commit may still resolve into it; older ones are GC'd
    * and their handles released. */
  private[graft] def commitSnapshot(tenant: String, index: String, readEpoch: Long,
                                    snap: Manifest): Manifest = {
    val committed = withManifestLock(tenant, index) {
      val now = manifest(tenant, index)
      val m = snap.copy(epoch = now.epoch + 1,
        headDirty = if (now.epoch != readEpoch) 1 else snap.headDirty)
      writeManifest(tenant, index, m)
      m
    }
    gcOldSnapshots(tenant, index, keep = snap.version - 1)
    evictStaleHandles(tenant, index, keep = snap.version - 1)
    committed
  }

  /** A write's epoch bump marks the head dirty; `dirty = false` bumps
    * the epoch alone (no data changed). */
  private[graft] def bumpEpoch(tenant: String, index: String, dirty: Boolean = true): Unit =
    withManifestLock(tenant, index) {
      val m = manifest(tenant, index)
      writeManifest(tenant, index,
        m.copy(epoch = m.epoch + 1, headDirty = if (dirty) 1 else m.headDirty))
    }

  // snapshot export / import (reference: POST {t}/{i}/snapshot + /load,
  // IndexController.cs:125-228): index state moves as files; the record
  // store stays where it is

  private[graft] def copyTree(src: java.nio.file.Path, dest: java.nio.file.Path): Unit = {
    Files.walk(src).forEach { p =>
      val target = dest.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else {
        Files.createDirectories(target.getParent)
        Files.copy(p, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** Export the current built snapshot (tail artifacts + manifest) to an
    * external directory. Requires a completed build. */
  def exportSnapshot(tenant: String, index: String, dest: String): Unit = {
    val m = manifest(tenant, index)
    require(m.version > 0,
      s"cannot export $tenant/$index: no built snapshot (build first)")
    val snap = snapDir(tenant, index, m)
    copyTree(Paths.get(snap), Paths.get(s"$dest/snapshot"))
    Files.createDirectories(Paths.get(dest))
    Files.writeString(Paths.get(s"$dest/manifest.json"), m.render)
  }

  /** Import an exported snapshot as this index's next version: the tail
    * serves the imported artifacts; local log rows newer than the imported
    * build watermark surface through the delta head as usual. */
  def importSnapshot(tenant: String, index: String, src: String): Unit = {
    val srcFile = s"$src/manifest.json"
    val imported = Manifest.parse(srcFile, Json.readFile(Paths.get(srcFile)))
    val m0 = manifest(tenant, index)
    val newVersion = m0.version + 1
    copyTree(Paths.get(s"$src/snapshot"),
      Paths.get(freshSnapshotDir(tenant, index, newVersion)))
    // headDirty stays 1: the local log's relation to the imported
    // watermark is unknown, so the head path must stay on
    commitSnapshot(tenant, index, m0.epoch, imported.copy(version = newVersion, headDirty = 1))
  }

  /** Incremental compaction: fold the current state into a fresh tail
    * snapshot WITHOUT retraining the coarse codebook — every live record
    * is assigned to its nearest EXISTING centroid in one pass
    * (reference: IVF adds land in inverted lists without retrain,
    * IvfFlatVectorIndex.cs:39-54; a full [[build]] is the retrain).
    * At scale this is the routine compaction: KMeans retraining is the
    * expensive step and cluster geometry drifts slowly, so retrain on a
    * cadence and fold incrementally in between. IVF_FLAT/FLAT only. */
  def compactIncremental(tenant: String, index: String): Unit =
      Stage.run(spark, "compact") {
    val m0 = manifest(tenant, index)
    require(m0.algo == "IVF_FLAT" || m0.algo == "FLAT",
      s"incremental compaction needs an inverted-list tail, got ${m0.algo}")
    val snap0 = snapDir(tenant, index, m0)
    val centroids = spark.read.parquet(s"$snap0/centroids")
    val state = currentState(tenant, index)
    val wmRow = state.agg(max("updated_at"), count(lit(1))).head
    require(!wmRow.isNullAt(0),
      s"cannot compact $tenant/$index: current state is empty")
    val keyed = state.select(col("id").as("id_str"),
        col("vector").as("vec"), col("meta"), col("tags"))
      .withColumn("id", xxhash64(col("id_str")))
    val newVersion = m0.version + 1
    val dir = freshSnapshotDir(tenant, index, newVersion)
    val idx0 = IvfFlat.Index(spark.emptyDataFrame, centroids, 0L)
    // assignment MUST reproduce build()'s geometry: COSINE tails are
    // cosine-trained (cosine argmax), everything else euclidean-trained —
    // an L2 re-assignment of a cosine tail would silently reshape the
    // lists away from the probe ranking later cosine searches use
    val assignMetric = if (m0.metric.equalsIgnoreCase("COSINE")) "COSINE" else "L2"
    IvfFlat.assign(keyed.select("id", "vec", "id_str"), idx0, assignMetric)
      .write.mode("overwrite").partitionBy("cluster_id")
      .parquet(s"$dir/vectors")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    keyed.select("id_str", "meta", "tags")
      .write.mode("overwrite").parquet(s"$dir/records")
    commitSnapshot(tenant, index, m0.epoch, Manifest(0L, wmRow.getLong(0),
      m0.algo, wmRow.getLong(1), newVersion, m0.metric, headDirty = 0))
  }
}
