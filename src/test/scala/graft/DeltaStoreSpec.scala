package graft

import org.apache.spark.sql.DataFrame

import graft.graphquery.{DeltaStore, Sparql}

/** X248 — the write-heavy delta-staged SPARQL UPDATE path. Contract:
  * for ANY update script, `DeltaStore.update + serve` ≡
  * `Sparql.update` (the administrative full-rewrite path) on the same
  * script; compaction changes the layout, never the contents; every
  * crash window loses nothing a reader can see.
  */
class DeltaStoreSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toSeq)

  /** Run `script` (a ;-sequence, or several scripts in order) through
    * both paths and assert the final states match; returns the delta
    * dir for further poking. */
  private def bothPaths(scripts: Seq[String]): (String, String, java.nio.file.Path) = {
    val root = java.nio.file.Files.createTempDirectory("deltastore")
    val admin = s"$root/admin"
    val delta = s"$root/delta"
    scripts.foreach { s =>
      Sparql.update(spark, admin, s)
      DeltaStore.update(spark, delta, s)
    }
    assert(rows(DeltaStore.serve(spark, delta)) ==
      rows(spark.read.parquet(admin)),
      "delta-path state diverged from the administrative path")
    (admin, delta, root)
  }

  private val script1 =
    """INSERT DATA {
      |  <urn:i/a> <urn:p/k> "v"@en .
      |  <urn:i/a> <urn:p/k> "2"^^<http://www.w3.org/2001/XMLSchema#integer> .
      |  GRAPH <urn:d/1> { <urn:i/a> <urn:p/k> <urn:i/b> .
      |                    <urn:i/b> <urn:p/k> <urn:i/c> . }
      |  GRAPH <urn:d/2> { <urn:i/x> <urn:p/n> "7" . }
      |}""".stripMargin

  test("delta path ≡ administrative path across every op family, " +
    "including delete-then-reinsert and the modify survival rule") {
    val (_, delta, root) = bothPaths(Seq(
      script1,
      // delete + REINSERT the same quad in later statements (the
      // last-op-wins fold must resurrect it), plus a DELETE WHERE.
      """DELETE DATA { <urn:i/a> <urn:p/k> "v"@en . } ;
        |INSERT DATA { <urn:i/a> <urn:p/k> "v"@en . } ;
        |DELETE WHERE { GRAPH <urn:d/1> { <urn:i/a> <urn:p/k> ?o . } }"""
        .stripMargin,
      // modify: delete + insert the SAME quad in one statement — the
      // within-delta add-over-tombstone rank is the survival rule.
      """DELETE { GRAPH <urn:d/2> { ?s <urn:p/n> ?o . } }
        |INSERT { GRAPH <urn:d/2> { ?s <urn:p/n> ?o .
        |                           ?s <urn:p/seen> "y" . } }
        |WHERE { GRAPH <urn:d/2> { ?s <urn:p/n> ?o . } }""".stripMargin,
      // USING-scoped modify through the delta path.
      """DELETE { ?s <urn:p/k> "v"@en . }
        |USING <urn:d/2>
        |WHERE { ?s <urn:p/seen> "y" . }""".stripMargin,
      // graph management through the delta path.
      """CLEAR DEFAULT ;
        |COPY GRAPH <urn:d/2> TO GRAPH <urn:d/3> ;
        |MOVE GRAPH <urn:d/3> TO DEFAULT ;
        |DROP SILENT GRAPH <urn:d/9>""".stripMargin))
    // The whole history is still O(statement)-sized deltas, no base.
    assert(!new java.io.File(s"$delta/base").exists())
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("compaction folds deltas into the base without changing the " +
    "served contents; physical deletion is deferred ONE compact cycle " +
    "(vacuum grace); ids stay monotonic; updates continue") {
    val (_, delta, root) = bothPaths(Seq(script1,
      "DELETE WHERE { GRAPH ?g { ?s <urn:p/k> ?o . } }"))
    def deltaDirs = new java.io.File(s"$delta/delta").listFiles()
      .filter(_.getName.startsWith("delta_id=")).map(_.getName).sorted
    val before = rows(DeltaStore.serve(spark, delta))
    val preCompactDirs = deltaDirs
    DeltaStore.compact(spark, delta)
    assert(rows(DeltaStore.serve(spark, delta)) == before,
      "compaction changed served contents")
    // Compaction writes a fresh VERSIONED base dir (never renaming a
    // live base's files away from a pinned reader).
    assert(new java.io.File(delta).listFiles()
      .exists(f => f.getName == "base" || f.getName.startsWith("base_v")))
    // Grace period: folded deltas survive this compact (a concurrent
    // serve's pinned listing must stay readable) and re-fold as a
    // no-op; the SECOND compact physically removes them.
    assert(deltaDirs.sameElements(preCompactDirs),
      "first compact deleted deltas inside the grace period")
    DeltaStore.compact(spark, delta)
    assert(deltaDirs.isEmpty, "second compact left folded deltas behind")
    assert(rows(DeltaStore.serve(spark, delta)) == before)
    // Post-compact updates land as fresh deltas with MONOTONIC ids
    // (an id below the horizon would die in the next deferred sweep
    // before its grace cycle).
    DeltaStore.update(spark, delta,
      "INSERT DATA { <urn:i/new> <urn:p/k> \"n\" . }")
    assert(rows(DeltaStore.serve(spark, delta)).size == before.size + 1)
    val newId = deltaDirs.head.stripPrefix("delta_id=").toLong
    val horizon = preCompactDirs.last.stripPrefix("delta_id=").toLong
    assert(newId > horizon, s"delta id $newId reused a retired id ≤ $horizon")
    // And the fresh delta survives the next compact's deferred sweep.
    DeltaStore.compact(spark, delta)
    assert(rows(DeltaStore.serve(spark, delta)).size == before.size + 1)
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("a serve plan PINNED before a compaction still collects after " +
    "it — the versioned base + delta grace cycle, demonstrated") {
    val (_, delta, root) = bothPaths(Seq(script1))
    // Give the store a real base (compact #1) plus fresh deltas on top.
    DeltaStore.compact(spark, delta)
    DeltaStore.update(spark, delta,
      "INSERT DATA { <urn:i/late> <urn:p/k> \"l\" . } ; " +
        "CLEAR GRAPH <urn:d/2>")
    val expected = rows(DeltaStore.serve(spark, delta))
    // Pin a plan NOW (file listings resolve at plan build), then
    // compact — which flips the base version and defers all physical
    // deletion one cycle — and only then execute the pinned plan.
    val pinned = DeltaStore.serve(spark, delta)
    DeltaStore.compact(spark, delta)
    assert(rows(pinned) == expected,
      "compaction broke a concurrently pinned serve plan")
    assert(rows(DeltaStore.serve(spark, delta)) == expected)
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("graph-management tombstones are O(1) rows, never store-sized") {
    val (_, delta, root) = bothPaths(Seq(script1))
    DeltaStore.update(spark, delta, "CLEAR ALL")
    val lastDir = new java.io.File(s"$delta/delta").listFiles()
      .filter(_.getName.startsWith("delta_id=")).map(_.getName).sorted.last
    val rowsInClear = spark.read
      .parquet(s"$delta/delta/$lastDir").count()
    assert(rowsInClear == 1L,
      s"CLEAR ALL wrote $rowsInClear tombstone rows, expected 1")
    assert(rows(DeltaStore.serve(spark, delta)).isEmpty)
    // A post-clear insert resurrects cleanly over the graph tombstone.
    DeltaStore.update(spark, delta,
      "INSERT DATA { GRAPH <urn:d/1> { <urn:i/a> <urn:p/k> <urn:i/b> . } }")
    assert(rows(DeltaStore.serve(spark, delta)).size == 1)
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("crash windows: an unpublished _tmp_ delta is invisible to " +
    "serve and swept by the next writer; re-folding already-folded " +
    "deltas is a no-op (the compact crash window)") {
    val (_, delta, root) = bothPaths(Seq(script1))
    val served = rows(DeltaStore.serve(spark, delta))
    // Simulate a writer crash: a half-written staging dir.
    val tmp = new java.io.File(s"$delta/delta/_tmp_99")
    tmp.mkdirs()
    java.nio.file.Files.write(tmp.toPath.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3)) // garbage — a reader must never open it
    assert(rows(DeltaStore.serve(spark, delta)) == served,
      "serve read an unpublished staging dir")
    DeltaStore.update(spark, delta,
      "INSERT DATA { <urn:i/n2> <urn:p/k> \"m\" . }")
    assert(!tmp.exists(), "writer did not sweep the crashed staging dir")
    // Compact crash window: base swapped but deltas NOT yet deleted —
    // simulate by compacting, then copying the pre-compact deltas
    // back and serving: the fold must be idempotent.
    val deltaRoot = new java.io.File(s"$delta/delta")
    val saved = java.nio.file.Files.createTempDirectory("savedeltas")
    org.apache.commons.io.FileUtils.copyDirectory(deltaRoot, saved.toFile)
    val preCompact = rows(DeltaStore.serve(spark, delta))
    DeltaStore.compact(spark, delta)
    org.apache.commons.io.FileUtils.copyDirectory(saved.toFile, deltaRoot)
    assert(rows(DeltaStore.serve(spark, delta)) == preCompact,
      "re-applying folded deltas changed the served state")
    // And compacting AGAIN from that state converges to the same thing.
    DeltaStore.compact(spark, delta)
    assert(rows(DeltaStore.serve(spark, delta)) == preCompact)
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    org.apache.commons.io.FileUtils.deleteDirectory(saved.toFile)
  }

  test("SILENT ops no-op without poisoning the delta sequence; loud " +
    "ops fail without committing a delta") {
    val (admin, delta, root) = bothPaths(Seq(script1))
    val served = rows(DeltaStore.serve(spark, delta))
    def nDeltas = new java.io.File(s"$delta/delta").listFiles()
      .count(_.getName.startsWith("delta_id="))
    // The administrative store's files: a request that rewrote the
    // store would leave new part-file names here.
    def adminFiles = new java.io.File(admin).list().toSet
    val n0 = nDeltas
    val files0 = adminFiles
    def unchanged(u: String): Unit = {
      assert(rows(DeltaStore.serve(spark, delta)) == served, u)
      assert(rows(spark.read.parquet(admin)) == served, u)
    }
    val silent =
      "LOAD SILENT <file:/nonexistent/doc.nq> ; " +
        "ADD SILENT GRAPH <urn:d/9> TO DEFAULT ; " +
        "COPY SILENT GRAPH <urn:d/9> TO DEFAULT ; " +
        "MOVE SILENT GRAPH <urn:d/9> TO GRAPH <urn:d/1> ; " +
        "CREATE SILENT GRAPH <urn:d/1>"
    Sparql.update(spark, admin, silent)
    DeltaStore.update(spark, delta, silent)
    unchanged(silent)
    assert(nDeltas == n0, "silent no-ops committed deltas")
    assert(adminFiles == files0, "silent no-ops rewrote the store")
    // A SILENT DROP of an absent graph changes no contents on either
    // path (the delta path records its O(1) graph cover).
    Sparql.update(spark, admin, "DROP SILENT GRAPH <urn:d/9>")
    DeltaStore.update(spark, delta, "DROP SILENT GRAPH <urn:d/9>")
    unchanged("DROP SILENT GRAPH <urn:d/9>")
    val n1 = nDeltas
    val files1 = adminFiles
    // Each loud form fails with the same message on both paths, and
    // neither store changes.
    Seq("CLEAR GRAPH <urn:d/9>",
      "DROP GRAPH <urn:d/9>",
      "CREATE GRAPH <urn:d/1>",
      "ADD GRAPH <urn:d/9> TO DEFAULT",
      "COPY GRAPH <urn:d/9> TO DEFAULT",
      "MOVE GRAPH <urn:d/9> TO GRAPH <urn:d/1>").foreach { u =>
      val adminError = intercept[Exception](Sparql.update(spark, admin, u))
      val deltaError = intercept[Exception](DeltaStore.update(spark, delta, u))
      assert(adminError.getMessage == deltaError.getMessage, u)
      unchanged(u)
      assert(nDeltas == n1, s"failed op committed a delta: $u")
      assert(adminFiles == files1, s"failed op rewrote the store: $u")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("X260+ expressions flow through UPDATE WHERE clauses — " +
    "identical through the administrative and delta paths") {
    val (_, _, root) = bothPaths(Seq(
      """INSERT DATA {
        |  <urn:i/a> <urn:p/n> "2" . <urn:i/b> <urn:p/n> "5" .
        |  <urn:i/c> <urn:p/n> "9" . <urn:i/d> <urn:p/n> "nope" .
        |}""".stripMargin,
      // Arithmetic + string functions + IF in the modify WHERE: only
      // rows with 2n > 8 and a numeric lexical survive the delete;
      // the insert mints a banded key per deleted row.
      """DELETE { ?s <urn:p/n> ?o . }
        |INSERT { ?s <urn:p/band> ?b . }
        |WHERE {
        |  ?s <urn:p/n> ?o .
        |  FILTER(?o * 2 > 8 && isNumeric(?o))
        |  BIND(IF(?o >= 9, "high", "mid") AS ?b)
        |}""".stripMargin))
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("compactIfNeeded: below threshold is a pure listing no-op; " +
    "crossing folds exactly once; the pinned-serve contract holds " +
    "across the triggered fold") {
    val root = java.nio.file.Files.createTempDirectory("deltaauto")
    val delta = s"$root/store"
    try {
      Seq(
        "INSERT DATA { <urn:i/a> <urn:p/k> \"1\" . }",
        "INSERT DATA { <urn:i/b> <urn:p/k> \"2\" . }",
        "INSERT DATA { <urn:i/c> <urn:p/k> \"3\" . }")
        .foreach(DeltaStore.update(spark, delta, _))
      val served = rows(DeltaStore.serve(spark, delta))
      // 3 live deltas ≤ 5 → no-op: no base version, no horizon marker.
      assert(!DeltaStore.compactIfNeeded(spark, delta, maxDeltas = 5))
      assert(!new java.io.File(s"$delta/base_v1").exists() &&
        !new java.io.File(s"$delta/_horizon").exists(),
        "below-threshold trigger must not touch the store")
      // Pin a plan, cross the threshold: 3 > 2 → one fold.
      val pinned = DeltaStore.serve(spark, delta)
      assert(DeltaStore.compactIfNeeded(spark, delta, maxDeltas = 2))
      assert(new java.io.File(s"$delta/base_v1").exists())
      assert(rows(DeltaStore.serve(spark, delta)) == served)
      assert(rows(pinned) == served,
        "pre-trigger pinned plan must still execute (one-cycle grace)")
      // Converged: the suffix is folded, so the trigger is quiet again.
      assert(!DeltaStore.compactIfNeeded(spark, delta, maxDeltas = 2))
      assert(rows(DeltaStore.serve(spark, delta)) == served)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("cross-process writer lease: a fresh foreign lease blocks " +
    "loudly; a stale one is swept and taken over; the lease releases " +
    "after the script") {
    val root = java.nio.file.Files.createTempDirectory("deltalease")
    val delta = s"$root/store"
    val leaseFile = new java.io.File(s"$delta/_writer")
    try {
      DeltaStore.update(spark, delta,
        "INSERT DATA { <urn:i/a> <urn:p/k> \"1\" . }")
      assert(!leaseFile.exists(), "lease must release after the script")
      // Another PROCESS's fresh lease → this writer must not touch the
      // store (same-JVM storeLocks can't see it; the file can).
      java.nio.file.Files.createDirectories(leaseFile.getParentFile.toPath)
      java.nio.file.Files.write(leaseFile.toPath,
        "someone-else".getBytes("UTF-8"))
      val e = intercept[IllegalArgumentException] {
        DeltaStore.update(spark, delta,
          "INSERT DATA { <urn:i/b> <urn:p/k> \"2\" . }")
      }
      assert(e.getMessage.contains("writer lease"), e.getMessage)
      assert(new java.io.File(s"$delta/delta").listFiles()
        .count(_.getName.startsWith("delta_id=")) == 1,
        "blocked writer must not commit")
      // Same foreign lease, aged past the TTL → crashed writer: swept,
      // taken over, ids stay monotonic.
      val ttl = DeltaStore.writerLeaseTtlMs
      DeltaStore.writerLeaseTtlMs = -1L
      try DeltaStore.update(spark, delta,
        "INSERT DATA { <urn:i/b> <urn:p/k> \"2\" . }")
      finally DeltaStore.writerLeaseTtlMs = ttl
      assert(!leaseFile.exists())
      assert(rows(DeltaStore.serve(spark, delta)).map(_(3)) ==
        Set("1", "2"))
      // compact holds + releases the lease too.
      DeltaStore.compact(spark, delta)
      assert(!leaseFile.exists())
      assert(rows(DeltaStore.serve(spark, delta)).map(_(3)) ==
        Set("1", "2"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("takeover TIE surfaces as the busy 'writer lease' error the " +
    "janitor skips, not a raw FileAlreadyExistsException") {
    // Two processes can both pass the stale check and race
    // delete+create; the loser's create(overwrite=false) must
    // translate to the same IllegalArgumentException('writer lease')
    // the fresh-lease reject throws — Maintenance.runAll's busy-skip
    // keys on that, and a raw FS exception would abort a whole sweep.
    val root = java.nio.file.Files.createTempDirectory("deltatie")
    try {
      val p = new org.apache.hadoop.fs.Path(s"$root/store/_writer")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      DeltaStore.createLeaseFile(fs, p, s"$root/store", "winner")
      val e = intercept[IllegalArgumentException] {
        DeltaStore.createLeaseFile(fs, p, s"$root/store", "loser")
      }
      assert(e.getMessage.contains("writer lease"), e.getMessage)
      // The winner's token is intact — the loser never wrote.
      val in = fs.open(p)
      val held = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      assert(held == "winner")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}
