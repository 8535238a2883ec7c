package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import ingest.ArtifactCache.{Artifact, deleteTree}

/** The write-once artifact lifecycle. The invalidation token: any
  * change to the source files (size, mtime, file set) or the
  * algorithm signature must land derived artifacts on a fresh subdir —
  * the guard against silently serving stale cluster labels / BPE
  * encodings / LSH indexes. The publish: built once under concurrent
  * callers, nothing left behind by a failed build, no Spark job to
  * find an existing one. */
class ArtifactCacheSpec extends SparkSpec {
  /** A scale dir holding one fake `documents` table. */
  private def sourceDir(): String = {
    val d = Files.createTempDirectory("artifact_src")
    Files.writeString(d.resolve("documents.parquet"), "rows")
    d.toString
  }

  test("token: stable for identical inputs, distinct across signature/file changes") {
    val dir = java.nio.file.Files.createTempDirectory("artifact_cache")
      .toFile.getAbsolutePath
    val f = java.nio.file.Paths.get(dir, "documents.parquet")
    java.nio.file.Files.writeString(f, "AAAA")
    val t1 = ingest.ArtifactCache.token(dir, Seq("documents"), "sig1")
    assert(t1 == ingest.ArtifactCache.token(dir, Seq("documents"), "sig1"))
    assert(t1.length == 12 && t1.forall("0123456789abcdef".contains(_)))
    assert(t1 != ingest.ArtifactCache.token(dir, Seq("documents"), "sig2"),
      "signature change must invalidate")
    java.nio.file.Files.writeString(f, "BBBBBBBB")
    val t2 = ingest.ArtifactCache.token(dir, Seq("documents"), "sig1")
    assert(t2 != t1, "source size change must invalidate")
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(1234567890123L))
    assert(ingest.ArtifactCache.token(dir, Seq("documents"), "sig1") != t2,
      "source mtime change must invalidate (same-size regeneration)")
    // a directory-of-parts table fingerprints every part file
    val d = java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(dir, "embeddings.parquet"))
    java.nio.file.Files.writeString(d.resolve("part-0.parquet"), "X")
    val t3 = ingest.ArtifactCache.token(dir, Seq("embeddings"), "s")
    java.nio.file.Files.writeString(d.resolve("part-1.parquet"), "Y")
    assert(ingest.ArtifactCache.token(dir, Seq("embeddings"), "s") != t3,
      "added part file must invalidate")
  }

  test("artifact paths embed the token: distinct dirs sharing a basename never collide") {
    // two differently-rooted "sfX" dirs with different corpora must
    // resolve to DIFFERENT artifact subdirs — the exact stale-cache
    // hazard the token closes
    def mk(content: String): String = {
      val root = java.nio.file.Files.createTempDirectory("abc")
      val sub = java.nio.file.Files.createDirectory(root.resolve("sfX"))
      java.nio.file.Files.writeString(sub.resolve("documents.parquet"), content)
      sub.toString
    }
    val (a, b) = (mk("corpus one"), mk("corpus two!"))
    assert(operators.Dedup.ClusterLabels.path(a) != operators.Dedup.ClusterLabels.path(b))
    assert(operators.Dedup.CorpusIndex.path(a) != operators.Dedup.CorpusIndex.path(b))
    assert(operators.CorpusClean.BpeTokens.path(a) != operators.CorpusClean.BpeTokens.path(b))
    assert(operators.Dedup.PairStats.path(a) != operators.Dedup.PairStats.path(b))
    assert(operators.Dedup.MinhashSig.path(a) != operators.Dedup.MinhashSig.path(b))
    // knn_topk keys on embeddings, not documents — same-basename roots
    // with NO embeddings table still must not collide on basename alone
    assert(operators.Ann.KnnTopk.path(a).contains("sfX_"))
  }

  test("ensure: 8 concurrent first callers run the build exactly once") {
    val src = sourceDir()
    val art = Artifact("spec_once", Seq("documents"), "v1")
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          start.await()
          art.ensure(src) { tmp =>
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build open while the others arrive
            Files.writeString(Paths.get(tmp, "data"), "x")
          }
        }
      }))
      start.countDown()
      val paths = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1, s"build ran ${builds.get} times")
      assert(paths.distinct == Seq(art.path(src)))
      assert(Files.readString(Paths.get(art.path(src), "data")) == "x")
    } finally {
      pool.shutdown()
      deleteTree(Paths.get(art.path(src)))
    }
  }

  test("ensure: a failed build leaves no dir and no temp sibling; the next call rebuilds") {
    val src = sourceDir()
    val art = Artifact("spec_fail", Seq("documents"), "v1")
    val out = Paths.get(art.path(src))
    def leftovers: Seq[Path] = {
      val s = Files.list(out.getParent)
      try s.toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.startsWith(out.getFileName.toString))
      finally s.close()
    }
    val e = intercept[IllegalStateException] {
      art.ensure(src) { tmp =>
        Files.writeString(Paths.get(tmp, "half"), "x")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(leftovers.isEmpty, s"failed build left $leftovers")
    var builds = 0
    art.ensure(src) { tmp => builds += 1; Files.writeString(Paths.get(tmp, "data"), "ok") }
    assert(builds == 1 && Files.readString(out.resolve("data")) == "ok")
    assert(leftovers == Seq(out))
    deleteTree(out)
  }

  test("zipcsv_read: same-basename dirs with equal row counts each read their own rows") {
    // a/sf0.001 and b/sf0.001: same basename, same digits, same row
    // count, different text — the fixture must follow the content
    val root = Files.createTempDirectory("zipkey")
    def mk(parent: String, word: String): String = {
      val d = Files.createDirectories(root.resolve(parent).resolve("sf0.001"))
      import spark.implicits._
      (1L to 5L).map(i => (i, s"$word text $i", "en", "web", 10L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(d.resolve("documents.parquet").toString)
      d.toString
    }
    val dirs = Seq("a" -> "alpha", "b" -> "beta").map { case (p, w) => w -> mk(p, w) }
    try dirs.foreach { case (word, dir) =>
      val texts = SparkEntry.queries("zipcsv_read")(spark, dir)
        .select("text").collect().map(_.getString(0)).toSet
      assert(texts == (1 to 5).map(i => s"$word text $i").toSet, s"$dir read $texts")
    } finally {
      dirs.foreach { case (_, dir) => deleteTree(Paths.get(ingest.ZipFixture.Fixture.path(dir))) }
      deleteTree(root)
    }
  }

  test("an existing fixture is found without running a Spark job") {
    ingest.ZipFixture.ensure(spark, sf) // build it, or find it built
    val jobs = jobsRunBy(ingest.ZipFixture.ensure(spark, sf))
    assert(jobs == 0, s"the fixture lookup ran $jobs Spark job(s)")
  }
}
