package graft

import java.io.File
import java.nio.file.Files

import graft.operators.TxLog
import graft.operators.TxLog.{ColStat, LiveFile}
import graft.queries.Scratch

/** The gate queries' scratch-directory rule ([[Scratch]]) and the one
  * add-action renderer ([[TxLog.renderAdd]]) every engine writer uses.
  *
  *  - a `(tag, data dir)` pair maps to one path per application, and a
  *    wiping claim clears what an earlier run left there;
  *  - data dirs whose `String.hashCode`s collide get distinct paths;
  *  - every root handed out is registered for the exit hook;
  *  - `deleteTree` removes a nested tree entirely;
  *  - `renderAdd` reproduces, byte for byte, each field combination
  *    the compaction, z-order, merge, convert and connector writers
  *    rendered by hand before they shared it. */
class ScratchSpec extends SparkSpec {

  private def touch(path: String): File = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, "x".getBytes("UTF-8"))
    f
  }

  test("same (tag, data dir) gives the same path; a wiping claim " +
      "clears stale content") {
    val a = Scratch.dir(spark, "spec_same", "/data/sf0.01")
    a shouldBe Scratch.dir(spark, "spec_same", "/data/sf0.01")
    a should startWith(System.getProperty("java.io.tmpdir"))
    new File(a).getName shouldBe "graft_spec_same_" +
      spark.sparkContext.applicationId + "_" + Scratch.md5("/data/sf0.01")
    val stale = touch(s"$a/out/part-0.parquet")
    Scratch.dir(spark, "spec_same", "/data/sf0.01", wipe = false)
    stale.isFile shouldBe true
    Scratch.dir(spark, "spec_same", "/data/sf0.01")
    stale.exists shouldBe false
    new File(a).exists shouldBe false
  }

  test("data dirs with equal String.hashCode get distinct paths") {
    "/data/Aa".hashCode shouldBe "/data/BB".hashCode
    val aa = Scratch.dir(spark, "spec_hash", "/data/Aa")
    val bb = Scratch.dir(spark, "spec_hash", "/data/BB")
    aa should not be bb
    Scratch.md5("/data/Aa") should have length 12
  }

  test("every root handed out is registered for the exit hook") {
    val roots = Seq(
      Scratch.dir(spark, "spec_reg", "/data/x"),
      Scratch.dir(spark, "spec_reg_keep", "/data/x", wipe = false),
      Scratch.appDir(spark, "spec_reg_wh"))
    roots.foreach(r => Scratch.registered should contain(r))
  }

  test("deleteTree removes a nested tree entirely; a missing path is " +
      "a no-op") {
    val root = Files.createTempDirectory("graft_spec_tree").toFile
    touch(s"$root/a/b/c/leaf.txt")
    touch(s"$root/a/side.txt")
    new File(s"$root/empty/dir").mkdirs()
    Scratch.deleteTree(root)
    root.exists shouldBe false
    Scratch.deleteTree(root)
    root.exists shouldBe false
  }

  private val keyStats = Seq(ColStat("doc_id", "l", Some("1"), Some("9"), 0L))
  private val keyStatsJson = """"cstats":[["doc_id","l","1","9","0"]]"""

  private def render(f: LiveFile, dataChange: Option[Boolean] = None) =
    TxLog.renderAdd(f, None, 0L, dataChange)

  test("renderAdd: compaction and z-order rewrite — key and string " +
      "windows, part, dataChange=false, cstats last") {
    render(LiveFile("/t/c.parquet", 0L, 10L, Some(1L), Some(9L),
        Some("a"), Some("z"), Some("en"), cstats = keyStats),
      Some(false)) shouldBe
      """{"add":{"path":"/t/c.parquet","size":10,"min_key":1,""" +
      """"max_key":9,"min_skey":"a","max_skey":"z","part":"en",""" +
      s""""dataChange":false,$keyStatsJson}}"""
    render(LiveFile("/t/c.parquet", 0L, 10L, None, None),
      Some(false)) shouldBe
      """{"add":{"path":"/t/c.parquet","size":10,"dataChange":false}}"""
  }

  test("renderAdd: a string window or part outside the no-escape " +
      "subset is dropped whole") {
    render(LiveFile("/t/z.parquet", 0L, 3L, Some(0L), Some(2L),
        Some("a\"b"), Some("z"), Some("x\\y")), Some(false)) shouldBe
      """{"add":{"path":"/t/z.parquet","size":3,"min_key":0,""" +
      """"max_key":2,"dataChange":false}}"""
  }

  test("renderAdd: merge rewrite, small-update and insert adds — " +
      "key window, kept part, cstats") {
    render(LiveFile("/t/m.parquet", 0L, 4L, Some(2L), Some(8L),
        part = Some("de"),
        cstats = Seq(ColStat("n", "l", None, None, 4L)))) shouldBe
      """{"add":{"path":"/t/m.parquet","size":4,"min_key":2,""" +
      """"max_key":8,"part":"de","cstats":[["n","l","","","4"]]}}"""
    render(LiveFile("/t/i.parquet", 0L, 3L, Some(5L), Some(7L),
        cstats = keyStats :+ ColStat("s", "s", Some("a"), Some("b"),
          1L))) shouldBe
      """{"add":{"path":"/t/i.parquet","size":3,"min_key":5,""" +
      """"max_key":7,"cstats":[["doc_id","l","1","9","0"],""" +
      """["s","s","a","b","1"]]}}"""
    // a merge keyed on another column stamps no legacy key window
    render(LiveFile("/t/i.parquet", 0L, 3L, None, None,
        cstats = keyStats)) shouldBe
      s"""{"add":{"path":"/t/i.parquet","size":3,$keyStatsJson}}"""
  }

  test("renderAdd: convert and fixture adds — key window or nothing, " +
      "optional part") {
    render(LiveFile("/t/v.parquet", 0L, 6L, Some(0L), Some(5L))) shouldBe
      """{"add":{"path":"/t/v.parquet","size":6,"min_key":0,"max_key":5}}"""
    render(LiveFile("/t/v.parquet", 0L, 6L, None, None)) shouldBe
      """{"add":{"path":"/t/v.parquet","size":6}}"""
    render(LiveFile("/t/p.parquet", 0L, 3L, Some(0L), Some(2L),
        part = Some("en"))) shouldBe
      """{"add":{"path":"/t/p.parquet","size":3,"min_key":0,""" +
      """"max_key":2,"part":"en"}}"""
  }

  test("renderAdd: connector write — key and string windows, part, " +
      "cstats, no dataChange") {
    render(LiveFile("/t/w.parquet", 0L, 2L, Some(1L), Some(2L),
        Some("en"), Some("fr"), Some("src1"), cstats = keyStats)) shouldBe
      """{"add":{"path":"/t/w.parquet","size":2,"min_key":1,""" +
      """"max_key":2,"min_skey":"en","max_skey":"fr","part":"src1",""" +
      s"""$keyStatsJson}}"""
  }
}
