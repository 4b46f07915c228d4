package graft.sources

import graft.util.CacheRegistry
import org.apache.spark.sql.SparkSession

/** Durable persistence for the memoized landed-index family — the
  * cross-SESSION half of the amortization story: within a session the
  * incremental operators share their landed artifacts through
  * [[graft.util.CacheRegistry]]; a production deployment additionally
  * persists those artifacts between sessions (an ingest pipeline
  * restarts daily; the landed corpus — and therefore every landed
  * index — did not change), paying the index build once per landed
  * COMPACTION instead of once per session.
  *
  * Mechanics: [[saveAll]] writes every live registry entry to
  * `dir/<md5(key)>.parquet` plus a `manifest` file mapping the hash
  * back to the full registry key; [[restoreAll]] reads the manifest
  * and seeds the registry with parquet-backed frames under the exact
  * saved keys. Because a registry key embeds the producing operator's
  * parameters AND a JVM-stable fingerprint of its input plan
  * ([[graft.util.CacheRegistry.planFingerprint]] — canonicalized plan
  * text + scan roots; `semanticHash()` is allocation-order-dependent
  * and missed every cross-session restore, round-16 finding), a new
  * session that constructs the same landed frame (same files, same
  * filters) computes the same key and transparently hits the restored
  * entry — no operator changes, no recomputation; a session whose
  * landed corpus CHANGED (different paths or plan) computes a
  * different fingerprint and falls through to a fresh build, so a
  * stale index can never serve the wrong corpus.
  *
  * At 100 TB the indexes are the small side (narrow per-doc/per-vector
  * projections, codebooks, count tables, boundary rows); writing them
  * as parquet is exactly how a cluster would stage them between runs. */
object IndexStore {

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Persist live [[CacheRegistry]] entries under `dir`. Returns the
    * number of entries written. Call after an index-build phase
    * ([[graft.SparkEntry.buildIndexes]]-style) has populated the
    * registry.
    *
    * `kinds` restricts the save to those registry kinds (the first
    * `:`-part of the key); empty saves all.
    * Pass the landed-index kinds in production: the registry also
    * holds corpus-scale intermediates ("shingles", "gram-table", …)
    * that are cheaper to rebuild than to copy. Entries ALREADY served
    * from this directory (a restore-then-save cycle — the daily
    * restart) are skipped, not re-written: writing over the files a
    * live plan reads is both illegal in Spark and pointless — they
    * are, by construction, already persisted here. */
  def saveAll(dir: String, kinds: Set[String] = Set.empty): Int = {
    val path = java.nio.file.Paths.get(s"$dir/manifest")
    val prior =
      if (!java.nio.file.Files.exists(path)) Map.empty[String, String]
      else new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
        .split("\n").toSeq.filter(_.nonEmpty)
        .map { l => val Array(h, k) = l.split("\t", 2); k -> h }.toMap
    // skip ONLY entries that are genuinely store-backed: key in the
    // manifest AND the live plan reads its own staged file
    // (self-overwrite is illegal in Spark, and the bytes are already
    // here by construction). A manifest key whose live entry was
    // REBUILT this session (operator internals may have changed under
    // an unchanged key — round-16 review finding) is re-written,
    // healing content drift; a NEW key whose build plan merely reads a
    // restored parquet under `dir` (a derived index in a
    // restore-then-build-then-save cycle) writes its own distinct file
    // and is never skipped.
    val entries = CacheRegistry.entries
      .filter { case (k, _) =>
        kinds.isEmpty || kinds.contains(k.takeWhile(_ != ':')) }
      .filter { case (k, df) =>
        !(prior.contains(k) && readsOwnFile(df, s"$dir/${md5(k)}.parquet")) }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    entries.foreach { case (k, df) =>
      df.write.mode("overwrite").parquet(s"$dir/${md5(k)}.parquet")
    }
    // the manifest keeps previously-saved (now skipped) entries
    val all = prior ++ entries.keys.map(k => k -> md5(k))
    val manifest = all.toSeq.sortBy(_._1)
      .map { case (k, h) => s"$h\t$k" }.mkString("", "\n", "\n")
    java.nio.file.Files.write(path, manifest.getBytes("UTF-8"))
    entries.size
  }

  /** True iff the frame's analyzed plan scans exactly the given staged
    * file path — the restored-entry signature ([[saveAll]]'s skip
    * test; normalized path comparison, never a substring match). */
  private def readsOwnFile(df: org.apache.spark.sql.DataFrame,
      path: String): Boolean = {
    val target = java.nio.file.Paths.get(path).normalize.toString
    df.queryExecution.analyzed.collectLeaves().exists {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.exists { p =>
              java.nio.file.Paths.get(p.toUri.getPath)
                .normalize.toString == target
            }
          case _ => false
        }
      case _ => false
    }
  }

  /** Make ONE live registry entry SELF-CONTAINED under `dir`: stage it
    * to its own `<md5(key)>.parquet` (unless its plan already reads
    * exactly that file — a restored entry), record it in the manifest,
    * and re-seed the registry key as a parquet read of the staged file.
    * This cuts every lazy-plan dependency the entry had on OTHER store
    * files or registry frames — the in-session restore device. A GC
    * caller runs this on the entries it KEEPS before deleting anything
    * their unmaterialized plans might still scan (a rotation's pin is
    * registered as a lazy plan over the pin it consulted; review
    * finding). No-op for keys not live in the registry. */
  def selfContain(dir: String, key: String): Unit =
    CacheRegistry.entries.get(key).foreach { df =>
      val f = s"$dir/${md5(key)}.parquet"
      if (!readsOwnFile(df, f)) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        df.write.mode("overwrite").parquet(f)
        val spark = df.sparkSession
        val path = java.nio.file.Paths.get(s"$dir/manifest")
        val prior =
          if (!java.nio.file.Files.exists(path)) Seq.empty[String]
          else new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
            .split("\n").toSeq.filter(_.nonEmpty)
        val line = s"${md5(key)}\t$key"
        val manifest = (prior.filterNot(_.endsWith("\t" + key)) :+ line)
          .sorted.mkString("", "\n", "\n")
        java.nio.file.Files.write(path, manifest.getBytes("UTF-8"))
        CacheRegistry.releaseIf(_ == key)
        CacheRegistry.seed(key, spark.read.parquet(f))
        ()
      }
    }

  /** GC the store: drop every manifest entry whose KEY satisfies
    * `victim`, deleting its staged parquet, and rewrite the manifest
    * without it. Returns the number of entries dropped. The manifest
    * intentionally accumulates across [[saveAll]] cycles (a skipped
    * restore-then-save must not forget store-backed entries), so
    * retention is an explicit face, not a side effect of saving —
    * [[graft.similarity.Similarity.gcReleasePins]] drives this for
    * the pin lifecycle. */
  def gc(dir: String, victim: String => Boolean): Int = {
    val path = java.nio.file.Paths.get(s"$dir/manifest")
    if (!java.nio.file.Files.exists(path)) 0
    else {
      val lines = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
        .split("\n").toSeq.filter(_.nonEmpty)
        .map { l => val Array(h, k) = l.split("\t", 2); (h, k) }
      val (dropped, kept) = lines.partition { case (_, k) => victim(k) }
      dropped.foreach { case (h, _) =>
        val p = java.nio.file.Paths.get(s"$dir/$h.parquet")
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }
      val manifest = kept.sortBy(_._2)
        .map { case (h, k) => s"$h\t$k" }.mkString("", "\n", "\n")
      java.nio.file.Files.write(path,
        (if (kept.isEmpty) "" else manifest).getBytes("UTF-8"))
      dropped.size
    }
  }

  /** Seed the registry from a [[saveAll]] directory. Returns the
    * number of entries ACTUALLY inserted — existing live entries win
    * (seed is getOrElseUpdate), so restoring into a warm session
    * never clobbers fresher builds and skipped keys are not
    * counted. */
  def restoreAll(spark: SparkSession, dir: String): Int = {
    val path = java.nio.file.Paths.get(s"$dir/manifest")
    if (!java.nio.file.Files.exists(path)) 0
    else {
      val before = CacheRegistry.size
      val lines = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
        .split("\n").toSeq.filter(_.nonEmpty)
      lines.foreach { line =>
        val Array(h, k) = line.split("\t", 2)
        CacheRegistry.seed(k, spark.read.parquet(s"$dir/$h.parquet"))
        ()
      }
      CacheRegistry.size - before
    }
  }
}
