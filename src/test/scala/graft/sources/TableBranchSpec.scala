package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Named branches ([[VersionedTable.branchCommit]] /
  * [[VersionedTable.fastForwardCommit]]): zero-copy writable forks,
  * SQL addressing (`gb.<t>.branch_<name>`, `VERSION AS OF '<name>'`),
  * fast-forward publish with constraint enforcement and rollback,
  * divergence refusal, and vacuum safety while a fork exists. */
class TableBranchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_branch").toString
    spark.conf.set("spark.sql.catalog.gb", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gb.warehouse", w)
    w
  }

  private def freshTable(): String =
    Files.createTempDirectory("vbranch").toString + "/t"

  private def files(t: String, v: Int): Set[String] =
    VersionedTable.dataFilesOf(VersionedTable.manifest(spark, t, v)).toSet

  test("branch / write / fast_forward: zero-copy fork, main blind " +
    "until publish, branch-era files move in atomically") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 100L).map(i => (i, i * 10)).toDF("k", "x"),
      append = false, statCols = Seq("k"))
    val base = VersionedTable.branchCommit(spark, t, "dev")
    assert(base == 1)
    val bp = VersionedTable.branchPath(t, "dev")
    // the fork is zero-copy: its v1 references main's files verbatim
    assert(files(bp, 1) == files(t, 1))
    // work lands on the branch only
    VersionedTable.commit(spark, bp,
      (101L to 150L).map(i => (i, i * 10)).toDF("k", "x"), append = true)
    VersionedTable.deleteCommitWhere(spark, bp, col("k") <= 10)
    assert(VersionedTable.versions(spark, t) == Seq(1),
      "main must not see branch commits")
    assert(VersionedTable.read(spark, t).count() == 100L)
    assert(VersionedTable.read(spark, bp).as[(Long, Long)]
      .collect().map(_._1).toSet == (11L to 150L).toSet)
    assert(VersionedTable.branchesOf(spark, t)("dev")._1 == 1)
    // publish
    val v2 = VersionedTable.fastForwardCommit(spark, t, "dev")
    assert(v2 == 2)
    assert(VersionedTable.read(spark, t).as[(Long, Long)]
      .collect().map(_._1).toSet == (11L to 150L).toSet)
    // every published file lives under MAIN's data dir now
    assert(files(t, 2).forall(_.contains("/t/data/")),
      s"published files must move into the main table: ${files(t, 2)}")
    // and time travel still shows the pre-publish state
    assert(VersionedTable.read(spark, t, Some(1)).count() == 100L)
    VersionedTable.dropBranch(spark, t, "dev")
    assert(VersionedTable.branchesOf(spark, t).isEmpty)
  }

  test("fast_forward refuses a diverged main and a duplicate branch") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      Seq((1L, 1L)).toDF("k", "x"), append = false)
    VersionedTable.branchCommit(spark, t, "dev")
    intercept[IllegalArgumentException] {
      VersionedTable.branchCommit(spark, t, "dev")
    }
    VersionedTable.commit(spark, t,
      Seq((2L, 2L)).toDF("k", "x"), append = true) // main moves on
    VersionedTable.commit(spark, VersionedTable.branchPath(t, "dev"),
      Seq((3L, 3L)).toDF("k", "x"), append = true)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.fastForwardCommit(spark, t, "dev")
    }
    assert(e.getMessage.contains("advanced past"), e.getMessage)
    // an empty branch fast-forwards as a no-op
    VersionedTable.branchCommit(spark, t, "idle")
    assert(VersionedTable.fastForwardCommit(spark, t, "idle") == 2)
    assert(VersionedTable.versions(spark, t) == Seq(1, 2))
  }

  test("fast_forward enforces MAIN's CHECK constraints with rollback") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      Seq((1L, 10L)).toDF("k", "x"), append = false)
    VersionedTable.addConstraint(spark, t, "x_pos", "x > 0")
    VersionedTable.branchCommit(spark, t, "bad")
    val bp = VersionedTable.branchPath(t, "bad")
    VersionedTable.commit(spark, bp,
      Seq((2L, -5L)).toDF("k", "x"), append = true)
    val bFiles = files(bp, 2)
    intercept[IllegalStateException] {
      VersionedTable.fastForwardCommit(spark, t, "bad")
    }
    assert(VersionedTable.versions(spark, t) == Seq(1),
      "nothing may publish on a constraint violation")
    assert(files(bp, 2) == bFiles &&
      VersionedTable.read(spark, bp).count() == 2L,
      "the branch must be intact after the rollback (files moved back)")
  }

  test("fast_forward propagates the branch's protocol requirements " +
    "(a rename on the branch gates main at publish)") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      Seq((1L, 2L)).toDF("k", "x"), append = false)
    VersionedTable.branchCommit(spark, t, "cm")
    val bp = VersionedTable.branchPath(t, "cm")
    VersionedTable.renameColumnCommit(spark, bp, "x", "y")
    VersionedTable.fastForwardCommit(spark, t, "cm")
    assert(VersionedTable.read(spark, t).columns.toSet == Set("k", "y"),
      "the branch's metadata-only rename publishes onto main")
    assert(VersionedTable.protocolOf(spark, t)._1
      .contains("column-mapping"),
      "main must now gate readers exactly as the branch did")
  }

  test("vacuum keeps fork-referenced files alive; clean_orphans too") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 50L).map(i => (i, i)).toDF("k", "x"), append = false)
    val forkFiles = files(t, 1)
    VersionedTable.branchCommit(spark, t, "keep")
    // main rewrites itself past the fork point
    VersionedTable.commit(spark, t,
      Seq((999L, 999L)).toDF("k", "x"), append = false)
    VersionedTable.commit(spark, t,
      Seq((998L, 998L)).toDF("k", "x"), append = false)
    val (retired, dead) = VersionedTable.vacuum(spark, t, 1)
    assert(retired.nonEmpty && dead.nonEmpty,
      "the unreferenced v2 overwrite must still be reclaimed")
    assert(dead.toSet.intersect(forkFiles).isEmpty,
      "v1's files are branch-referenced — vacuum must spare them all")
    assert(VersionedTable.cleanOrphans(spark, t, 0L).isEmpty,
      "the orphan sweep must treat branch references as live")
    val bp = VersionedTable.branchPath(t, "keep")
    assert(VersionedTable.read(spark, bp).count() == 50L,
      "the fork stays fully readable after main's vacuum")
    // dropping the branch releases the pin
    VersionedTable.dropBranch(spark, t, "keep")
    assert(VersionedTable.cleanOrphans(spark, t, 0L).nonEmpty,
      "after the drop the fork's files are reclaimable")
  }

  test("cherry_pick replays a disjoint branch delta onto a DIVERGED " +
    "main: appends move in, COW removals apply, MOR tombstones carry") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 50L).map(i => (i, i)).toDF("k", "x"),
      append = false, statCols = Seq("k")) // file A
    VersionedTable.commit(spark, t,
      (51L to 100L).map(i => (i, i)).toDF("k", "x"),
      append = true, statCols = Seq("k")) // file B
    VersionedTable.branchCommit(spark, t, "dev")
    val bp = VersionedTable.branchPath(t, "dev")
    // branch: COW-delete file A wholesale, append file D, and
    // MOR-delete one row of base-era file B
    VersionedTable.deleteCommitWhere(spark, bp, col("k") <= 50)
    VersionedTable.commit(spark, bp,
      (201L to 220L).map(i => (i, i)).toDF("k", "x"), append = true)
    VersionedTable.deleteCommit(spark, bp, col("k") === 60)
    // main diverges DISJOINTLY: appends file C
    VersionedTable.commit(spark, t,
      (101L to 150L).map(i => (i, i)).toDF("k", "x"), append = true)
    intercept[IllegalArgumentException] {
      VersionedTable.fastForwardCommit(spark, t, "dev")
    } // diverged: ff refuses, cherry_pick is the path
    val v = VersionedTable.cherryPickCommit(spark, t, "dev")
    assert(v == VersionedTable.versions(spark, t).last)
    val got = VersionedTable.read(spark, t).as[(Long, Long)]
      .collect().map(_._1).toSet
    val want = ((51L to 100L).toSet - 60L) ++ (101L to 150L) ++
      (201L to 220L)
    assert(got == want, s"diff: ${(got diff want) ++ (want diff got)}")
    // every published file lives under MAIN now
    val lines = VersionedTable.manifest(spark, t, v)
    assert((VersionedTable.dataFilesOf(lines) ++
      lines.filter(_.startsWith("dv\t")).map(_.substring(3)))
      .forall(!_.contains("_branch/")),
      "cherry-picked files and sidecars must move out of the branch dir")
    VersionedTable.dropBranch(spark, t, "dev")
    assert(VersionedTable.read(spark, t).count() == want.size.toLong)
  }

  test("cherry_pick refuses CONFLICTING rewrites, both COW-vs-COW " +
    "and MOR-vs-COW, leaving both sides intact") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 50L).map(i => (i, i)).toDF("k", "x"),
      append = false, statCols = Seq("k"))
    // case 1: both sides COW-rewrite the same file
    VersionedTable.branchCommit(spark, t, "cow")
    VersionedTable.deleteCommitWhere(spark,
      VersionedTable.branchPath(t, "cow"), col("k") <= 20)
    VersionedTable.deleteCommitWhere(spark, t, col("k") <= 10)
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.cherryPickCommit(spark, t, "cow")
    }
    assert(e1.getMessage.contains("conflicting rewrites"), e1.getMessage)
    assert(VersionedTable.read(spark, t).count() == 40L,
      "main untouched after the refusal")
    assert(VersionedTable.read(spark,
      VersionedTable.branchPath(t, "cow")).count() == 30L,
      "branch untouched after the refusal")
    VersionedTable.dropBranch(spark, t, "cow")
    // case 2: main MOR-deletes a row in the file the branch rewrote
    val t2 = freshTable()
    VersionedTable.commit(spark, t2,
      (1L to 50L).map(i => (i, i)).toDF("k", "x"),
      append = false, statCols = Seq("k"))
    VersionedTable.branchCommit(spark, t2, "morcow")
    VersionedTable.deleteCommitWhere(spark,
      VersionedTable.branchPath(t2, "morcow"), col("k") <= 50)
    VersionedTable.deleteCommit(spark, t2, col("k") === 5)
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.cherryPickCommit(spark, t2, "morcow")
    }
    assert(e2.getMessage.contains("conflicting rewrites"), e2.getMessage)
    // case 3: branch tombstones its OWN branch-era file
    val t3 = freshTable()
    VersionedTable.commit(spark, t3,
      Seq((1L, 1L)).toDF("k", "x"), append = false)
    VersionedTable.branchCommit(spark, t3, "selfdv")
    val bp3 = VersionedTable.branchPath(t3, "selfdv")
    VersionedTable.commit(spark, bp3,
      (10L to 20L).map(i => (i, i)).toDF("k", "x"), append = true)
    VersionedTable.deleteCommit(spark, bp3, col("k") === 15)
    VersionedTable.commit(spark, t3,
      Seq((2L, 2L)).toDF("k", "x"), append = true) // diverge
    val e3 = intercept[IllegalArgumentException] {
      VersionedTable.cherryPickCommit(spark, t3, "selfdv")
    }
    assert(e3.getMessage.contains("purge_tombstones"), e3.getMessage)
  }

  test("a protocol-gated branch ABORTS vacuum/clean_orphans loudly " +
    "instead of silently unpinning the files its head references") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 50L).map(i => (i, i)).toDF("k", "x"), append = false)
    val forkFiles = files(t, 1)
    VersionedTable.branchCommit(spark, t, "future")
    VersionedTable.commit(spark, t,
      Seq((1L, 1L)).toDF("k", "x"), append = false)
    VersionedTable.commit(spark, t,
      Seq((2L, 2L)).toDF("k", "x"), append = false)
    // simulate a NEWER build having advanced the branch: its protocol
    // now requires a feature this build does not know
    val bp = VersionedTable.branchPath(t, "future")
    val p = new org.apache.hadoop.fs.Path(bp, "_protocol")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(p, true)
    try out.write("r\tfuture-feature\nw\tfuture-feature\n"
      .getBytes("UTF-8")) finally out.close()
    intercept[GraftProtocolException] {
      VersionedTable.vacuum(spark, t, 1)
    }
    intercept[GraftProtocolException] {
      VersionedTable.cleanOrphans(spark, t, 0L)
    }
    assert(forkFiles.forall(df =>
      f.exists(new org.apache.hadoop.fs.Path(df))),
      "an aborted sweep must not have deleted anything")
    // un-gating (an upgraded build's view) restores normal behavior
    f.delete(p, false)
    val (_, dead) = VersionedTable.vacuum(spark, t, 1)
    assert(dead.toSet.intersect(forkFiles).isEmpty,
      "fork-referenced files stay alive through the real sweep")
  }

  test("a crashed branch create (marker-only dir) is invisible to " +
    "listings and sweeps, and the create is retryable") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      Seq((1L, 1L)).toDF("k", "x"), append = false)
    // simulate the crash window: _base written, clone not yet published
    val bp = VersionedTable.branchPath(t, "half")
    val marker = new org.apache.hadoop.fs.Path(bp, "_base")
    val f = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(marker, false)
    try out.write("1\n".getBytes("UTF-8")) finally out.close()
    assert(VersionedTable.branchesOf(spark, t).isEmpty,
      "a manifest-less branch dir is not a branch yet")
    assert(VersionedTable.cleanOrphans(spark, t, 0L).isEmpty)
    // the retried create overwrites the leftover marker and completes
    assert(VersionedTable.branchCommit(spark, t, "half") == 1)
    assert(VersionedTable.branchesOf(spark, t)("half") == ((1, 1)))
    assert(VersionedTable.read(spark, bp).count() == 1L)
  }

  test("CALL addresses a nested table legitimately named 'branch_*' " +
    "instead of blindly mapping it to a branch dir") {
    warehouse
    val nested = s"$warehouse/ns/branch_metrics"
    VersionedTable.commit(spark, nested,
      (1L to 20L).map(i => (i, i)).toDF("k", "x"), append = false)
    spark.sql("CALL gb.system.analyze('ns.branch_metrics', 'k')")
    assert(VersionedTable.statColsOf(VersionedTable.manifest(spark,
      nested, VersionedTable.versions(spark, nested).last))
      .contains("k"),
      "the CALL must land on the nested table itself, not _branch/")
  }

  test("branch retention: a stale workless fork expires (vacuum then " +
    "reclaims its era); unpublished work refuses without force; " +
    "maintain honors the declared policy without destroying work") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 30L).map(i => (i, i)).toDF("k", "x"), append = false)
    val eraFiles = files(t, 1)
    VersionedTable.branchCommit(spark, t, "stale")
    // main rewrites itself past the fork: v1's files now live only
    // through the branch pin
    VersionedTable.commit(spark, t,
      Seq((99L, 99L)).toDF("k", "x"), append = false)
    assert(VersionedTable.vacuum(spark, t, 1)._2.toSet
      .intersect(eraFiles).isEmpty, "pinned while the fork exists")
    // age 0 = everything is stale; the workless fork expires
    assert(VersionedTable.expireBranches(spark, t, 0L) == Seq("stale"))
    assert(VersionedTable.branchesOf(spark, t).isEmpty)
    assert(VersionedTable.cleanOrphans(spark, t, 0L).nonEmpty,
      "expiry must release the era's pin for the orphan sweep")
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(eraFiles.forall(p =>
      !f.exists(new org.apache.hadoop.fs.Path(p))),
      "the expired fork's era files must be reclaimed from disk")
    // a stale branch WITH work refuses without force
    VersionedTable.commit(spark, t,
      (1L to 5L).map(i => (i, i)).toDF("k", "x"), append = true)
    VersionedTable.branchCommit(spark, t, "worked")
    VersionedTable.commit(spark, VersionedTable.branchPath(t, "worked"),
      Seq((500L, 500L)).toDF("k", "x"), append = true)
    val e = intercept[RuntimeException] {
      VersionedTable.expireBranches(spark, t, 0L)
    }
    assert(e.getMessage.contains("force"), e.getMessage)
    assert(VersionedTable.branchesOf(spark, t).contains("worked"))
    // maintenance policy: declared retention expires workless forks,
    // SKIPS worked ones (policy never destroys work)
    VersionedTable.branchCommit(spark, t, "idle2")
    VersionedTable.setTableProperty(spark, t,
      VersionedTable.BranchRetentionProp, "0")
    val actions = VersionedTable.maintain(spark, t, 1000000L)
    assert(actions.exists(a => a.kind == "expire-branch" &&
      a.detail.contains("idle2")), actions.toString)
    assert(VersionedTable.branchesOf(spark, t).keySet == Set("worked"),
      "maintain must never expire a branch carrying work")
    // explicit force through SQL drops it
    val w2 = Files.createTempDirectory("graft_expire").toString
    spark.conf.set("spark.sql.catalog.gexp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gexp.warehouse", w2)
    VersionedTable.commit(spark, s"$w2/et",
      Seq((1L, 1L)).toDF("k", "x"), append = false)
    spark.sql("CALL gexp.system.branch('et', 'old')")
    VersionedTable.commit(spark, s"$w2/et/_branch/old",
      Seq((2L, 2L)).toDF("k", "x"), append = true)
    intercept[Exception] {
      spark.sql("CALL gexp.system.expire_branches('et', 0)").collect()
    }
    val dropped = spark.sql(
      "CALL gexp.system.expire_branches('et', 0, force => true)")
      .collect().map(_.getString(0)).toSeq
    assert(dropped == Seq("old"))
    assert(VersionedTable.branchesOf(spark, s"$w2/et").isEmpty)
  }

  test("SQL lifecycle: CALL branch, write via gt.<t>.branch_<n>, " +
    "read via VERSION AS OF name, CALL fast_forward") {
    warehouse
    (1L to 80L).map(i => (i, i * 2)).toDF("k", "v")
      .createOrReplaceTempView("br_src")
    spark.sql("CREATE TABLE gb.bt AS SELECT * FROM br_src")
    val base = spark.sql("CALL gb.system.branch('bt', 'dev')")
      .as[Long].head()
    assert(base == 1L)
    spark.sql("INSERT INTO gb.bt.branch_dev " +
      "SELECT k + 1000, v FROM br_src WHERE k <= 5")
    spark.sql("DELETE FROM gb.bt.branch_dev WHERE k <= 40 AND k < 1000")
    // main is blind; the branch reads both ways
    assert(spark.sql("SELECT count(*) FROM gb.bt").as[Long].head() == 80L)
    assert(spark.sql("SELECT count(*) FROM gb.bt.branch_dev")
      .as[Long].head() == 45L)
    assert(spark.sql("SELECT count(*) FROM gb.bt VERSION AS OF 'dev'")
      .as[Long].head() == 45L)
    // a tag resolves by name too (tags win over branches)
    spark.sql("CALL gb.system.tag('bt', 'pre', 1)")
    assert(spark.sql("SELECT count(*) FROM gb.bt VERSION AS OF 'pre'")
      .as[Long].head() == 80L)
    // branch identifiers time-travel within the BRANCH's history
    assert(spark.sql(
      "SELECT count(*) FROM gb.bt.branch_dev VERSION AS OF 1")
      .as[Long].head() == 80L, "branch v1 = the fork snapshot")
    // and the branch's own metadata tables resolve
    assert(spark.sql("SELECT count(*) FROM gb.bt.branch_dev.history")
      .as[Long].head() >= 3L)
    // the branches metadata table and branch-addressed maintenance
    val br = spark.sql(
      "SELECT name, base_version, head_version FROM gb.bt.branches")
      .as[(String, Long, Long)].collect()
    assert(br.length == 1 && br.head._1 == "dev" && br.head._2 == 1L &&
      br.head._3 >= 3L, br.mkString(","))
    spark.sql("CALL gb.system.analyze('bt.branch_dev', 'k')")
    assert(VersionedTable.statColsOf(VersionedTable.manifest(spark,
      s"$warehouse/bt/_branch/dev",
      VersionedTable.versions(spark,
        s"$warehouse/bt/_branch/dev").last)).contains("k"),
      "CALL must address the branch through 'bt.branch_dev'")
    val v2 = spark.sql("CALL gb.system.fast_forward('bt', 'dev')")
      .as[Long].head()
    assert(v2 == 2L)
    assert(spark.sql("SELECT count(*) FROM gb.bt").as[Long].head() == 45L)
    assert(spark.sql(
      "SELECT count(*) FROM gb.bt WHERE k > 1000").as[Long].head() == 5L)
    spark.sql("CALL gb.system.drop_branch('bt', 'dev')")
    val ex = intercept[Exception] {
      spark.sql("SELECT count(*) FROM gb.bt VERSION AS OF 'dev'")
        .collect()
    }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).mkString("|")
    assert(chain.contains("neither a version, a tag, nor a branch"),
      chain)
  }
}
