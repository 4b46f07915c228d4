package graft

import graft.sources.IndexStore
import graft.util.{CacheRegistry, JobCounts}

/** The index declarations ([[SparkEntry.indexDecls]]) against the
  * registry keys the contract queries actually read on sf0.001.
  *
  * The index phase builds every entry in its own region; then every
  * contract query runs with a noop sink in its own region, and the
  * keys it created are released after it, as Bench does. Bench keeps
  * an entry's keys only while the entry has a later declared reader,
  * so a query that reads an index key no entry declaring it owns would
  * rebuild that key inside its timed region. */
class IndexDeclSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def run(q: String): Unit =
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()

  private lazy val decls = SparkEntry.indexDecls

  /** (entry keys, each entry's own key, index keys each query read,
    * registry keys each query created). */
  private lazy val phase = {
    CacheRegistry.releaseAll()
    val keys = SparkEntry.buildIndexesTimed(spark, dir).map(b => b.name -> b.keys).toMap
    val indexKeys = keys.values.flatten.toSet
    // an entry's own key is its frame's registry key; a frame the
    // registry does not hold (the BPE training) is owned by the memo key
    // its build logged outside the registry
    val own = decls.map { d =>
      val f = d.build(spark, dir)
      d.name -> CacheRegistry.entries.collectFirst { case (k, v) if v eq f => Set(k) }
        .getOrElse(keys(d.name) -- CacheRegistry.entries.keySet)
    }.toMap
    val counts = new JobCounts(spark)
    val perQuery = try SparkEntry.queries.keys.toSeq.sorted.map { q =>
      counts.region(q)(run(q))
      val created = CacheRegistry.releaseIf(k => !indexKeys.contains(k))
      (q, CacheRegistry.takeReads(q) & indexKeys, created)
    } finally counts.close()
    (keys, own, perQuery.map(r => r._1 -> r._2).toMap,
      perQuery.map(r => r._1 -> r._3).toMap)
  }

  test("every entry has readers, and each declared reader reads the entry's own key") {
    val (_, own, reads, _) = phase
    assert(decls.map(_.name).distinct.size == decls.size, "duplicate entry names")
    val unknown = decls.flatMap(d => d.readers.filterNot(SparkEntry.queries.contains))
    assert(unknown.isEmpty, s"readers that are no contract query: $unknown")
    val unread = decls.filter(_.readers.isEmpty).map(_.name)
    assert(unread.isEmpty, s"entries without a reader: $unread")
    assert(own.forall(_._2.nonEmpty), s"entries without an own key: ${own.filter(_._2.isEmpty)}")
    val misses = for {
      d <- decls; q <- d.readers if (reads(q) & own(d.name)).isEmpty
    } yield s"${d.name} <- $q"
    assert(misses.isEmpty, s"declared readers that never read the entry: $misses")
  }

  test("every index key a query reads belongs to an entry declaring that query") {
    val (keys, _, reads, _) = phase
    val stray = for {
      (q, ks) <- reads.toSeq.sortBy(_._1); k <- ks.toSeq.sorted
      if !decls.exists(d => d.readers.contains(q) && keys(d.name).contains(k))
    } yield s"$q reads $k"
    assert(stray.isEmpty, s"index keys read by a query no owning entry declares: $stray")
  }

  test("restored index: no declared reader builds an index-owned key, or more than on the rebuilt one") {
    val (keys, _, _, created) = phase
    val indexKeys = keys.values.flatten.toSet
    val saved = CacheRegistry.entries.keySet & indexKeys
    val store = java.nio.file.Files.createTempDirectory("index-decl-store")
    val faults = try {
      IndexStore.saveAll(store.toString)
      CacheRegistry.releaseAll()
      IndexStore.restoreAll(spark, store.toString)
      val restored = CacheRegistry.entries.keySet
      assert(saved.subsetOf(restored), s"not restored: ${saved -- restored}")
      decls.flatMap(_.readers).distinct.sorted.flatMap { q =>
        run(q)
        val built = CacheRegistry.entries.keySet -- restored
        CacheRegistry.releaseIf(k => !restored.contains(k))
        (built & indexKeys).toSeq.sorted.map(k => s"$q built $k") ++
          (if (built.size > created(q)) Seq(s"$q built ${built.size} keys, ${created(q)} rebuilt")
           else Nil)
      }
    } finally {
      CacheRegistry.releaseAll()
      scala.reflect.io.Directory(store.toFile).deleteRecursively()
    }
    assert(faults.isEmpty, s"readers that did not serve from the restored index: $faults")
  }
}
