package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.plans.SessionArtifacts

/** Contracts of the session artifact store's in-JVM kinds — the
  * `Tables.t` frames (`tables`) and the `Tables.stagingDir` checksums
  * (`staging`) — plus the counters and locking every kind shares. The
  * `rows` and `files` kinds are spec'd through their consumers in
  * SimilaritySpec and PairGraphCacheSpec. */
class SessionArtifactsSpec extends SparkSpec {

  /** (Re)write `<dir>/documents.parquet` as ONE file at the same path
    * with `n` rows, so the file length changes with `n`. */
  private def writeDocs(dir: String, n: Int): Unit = {
    val tmp = Files.createTempDirectory("graft_art_tmp").toString
    spark.range(0, n).selectExpr("id AS doc_id", "concat('doc ', id) AS text")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, Paths.get(dir, "documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("a repeated stagingDir call is a hit and returns the same dir") {
    SessionArtifacts.clear()
    val dir = Files.createTempDirectory("graft_art_stage").toString
    writeDocs(dir, 5)
    val d1 = Tables.stagingDir(spark, dir, "documents", "graft_art")
    val h0 = SessionArtifacts.stats("staging").hits
    val m0 = SessionArtifacts.stats("staging").misses
    val d2 = Tables.stagingDir(spark, dir, "documents", "graft_art")
    assert(d2 == d1)
    assert(SessionArtifacts.stats("staging").hits == h0 + 1)
    assert(SessionArtifacts.stats("staging").misses == m0,
      "an unchanged table must not re-run the checksum aggregate")
  }

  test("rewriting the table file in place with a different length gives " +
    "a new dir, and Tables.t re-reads it") {
    SessionArtifacts.clear()
    val dir = Files.createTempDirectory("graft_art_rewrite").toString
    writeDocs(dir, 5)
    val f = new java.io.File(dir, "documents.parquet")
    val d1 = Tables.stagingDir(spark, dir, "documents", "graft_art")
    val len1 = f.length
    assert(Tables.t(spark, dir, "documents").count() == 5)
    writeDocs(dir, 40) // same path, new bytes
    assert(f.length != len1, "fixture must change the file length")
    val m0 = SessionArtifacts.stats("staging").misses
    val d2 = Tables.stagingDir(spark, dir, "documents", "graft_art")
    assert(d2 != d1, "a rewritten table must not reuse the stale staging dir")
    assert(SessionArtifacts.stats("staging").misses == m0 + 1)
    assert(Tables.t(spark, dir, "documents").count() == 40,
      "the stored table frame must not serve the old file listing")
  }

  test("after clear(), Tables.t shows the new content") {
    SessionArtifacts.clear()
    val dir = Files.createTempDirectory("graft_art_clear").toString
    writeDocs(dir, 5)
    val before = Tables.t(spark, dir, "documents")
    assert(Tables.t(spark, dir, "documents") eq before, "a hit returns the same frame")
    writeDocs(dir, 12)
    SessionArtifacts.clear()
    SessionArtifacts.Kinds.foreach(k => assert(SessionArtifacts.stats(k).size == 0, k))
    val m0 = SessionArtifacts.stats("tables").misses
    val after = Tables.t(spark, dir, "documents")
    assert(SessionArtifacts.stats("tables").misses == m0 + 1)
    assert(!(after eq before) && after.count() == 12)
  }

  test("evicting a rows entry is counted") {
    val oldCap = SessionArtifacts.maxEntries
    SessionArtifacts.clear()
    SessionArtifacts.maxEntries = 1
    try {
      val dir = Files.createTempDirectory("graft_art_evict").toString
      spark.range(0, 4).selectExpr("id AS vec_id").coalesce(1)
        .write.mode("overwrite").parquet(dir)
      val tiny = spark.read.parquet(dir)
      val e0 = SessionArtifacts.stats("rows").evictions
      SessionArtifacts.rows(tiny, "first")(tiny).collect()
      assert(SessionArtifacts.stats("rows").evictions == e0)
      SessionArtifacts.rows(tiny, "second")(tiny).collect()
      assert(SessionArtifacts.stats("rows").evictions == e0 + 1,
        "the eldest rows entry left the map past the cap")
      assert(SessionArtifacts.stats("rows").size == 1)
    } finally {
      SessionArtifacts.maxEntries = oldCap
      SessionArtifacts.clear()
    }
  }

  test("same-key callers derive once; a nested derivation under another " +
    "key does not deadlock") {
    SessionArtifacts.clear()
    val derivations = new java.util.concurrent.atomic.AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val derive = new java.util.concurrent.Callable[String] {
        def call(): String = SessionArtifacts.value[String]("staging", "outer") {
          derivations.incrementAndGet()
          Thread.sleep(50)
          "o:" + SessionArtifacts.value[String]("staging", "inner")("i")
        }
      }
      val futures = (1 to 4).map(_ => pool.submit(derive))
      val got = futures.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.toSet == Set("o:i"))
      assert(derivations.get == 1, s"expected one derivation, got ${derivations.get}")
    } finally {
      pool.shutdownNow()
      SessionArtifacts.clear()
    }
  }
}
