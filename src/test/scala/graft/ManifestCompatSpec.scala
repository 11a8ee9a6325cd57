package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.io.{GenMarker, RetiredEntry, Tables, TsFileEntry, TsManifest}

/** The manifest schema must stay readable across versions: a pre-r12 (v1)
  * manifest JSON has no `retired` field — extraction must fill the empty
  * default, never throw (a throw would silently un-govern every table
  * written before the retention change). The same holds for the
  * generation marker: one written before the appends committed through
  * it has no `loaded`, `manifest` or `stream` field, and reads as the
  * rewrite it was.
  */
class ManifestCompatSpec extends AnyFunSuite {
  implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats

  test("a v1 manifest without the retired field reads with an empty default") {
    val v1 = """{"version":1,"ts":"ts","files":[{"name":"a","bytes":10,"minNs":1,"maxNs":2,"loaded":true}]}"""
    val m = org.json4s.jackson.Serialization.read[TsManifest](v1)
    assert(m.files.size == 1 && m.retired.isEmpty)
  }

  test("a manifest with retired entries round-trips") {
    val m = TsManifest(1, "ts",
      Seq(TsFileEntry("a", 10L, Some(1L), Some(2L), loaded = true)),
      Seq(RetiredEntry("b", 5L)))
    val json = org.json4s.jackson.Serialization.write(m)
    assert(org.json4s.jackson.Serialization.read[TsManifest](json) == m)
  }

  test("a pre-r16 entry without the rows field reads with rows=None; rows round-trip") {
    // r16 added per-file footer row counts (metadata-only dedupStats);
    // a pre-r16 manifest must parse with the empty default — a throw
    // would silently un-govern every table written before the change
    val old = """{"version":1,"ts":"ts","files":[{"name":"a","bytes":10,"minNs":1,"maxNs":2,"loaded":true}],"retired":[]}"""
    val m = org.json4s.jackson.Serialization.read[TsManifest](old)
    assert(m.files.head.rows.isEmpty)
    val m2 = TsManifest(1, "ts",
      Seq(TsFileEntry("a", 10L, Some(1L), Some(2L), loaded = true,
        rows = Some(42L))))
    val json = org.json4s.jackson.Serialization.write(m2)
    assert(org.json4s.jackson.Serialization.read[TsManifest](json) == m2)
  }

  test("a gen marker without the install fields reads as a rewrite") {
    val old = """{"ts":"ts","newFiles":["a"],"replaced":["b","c"]}"""
    val gm = org.json4s.jackson.Serialization.read[GenMarker](old)
    assert(gm == GenMarker("ts", Seq("a"), Seq("b", "c"), loaded = true,
      manifest = true, stream = None))
  }

  test("a committed crash under a marker without the install fields rolls forward") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_compat_gen")
    d.toFile.deleteOnExit()
    val path = s"$d/t"
    def rows(from: Long, until: Long) =
      (from until until).map(i => (i, i * 1.0)).toDF("ts", "v")
    Tables.load(rows(0L, 100L), path, Seq(), "ts")
    Tables.append(rows(100L, 130L), path, "ts", org.apache.spark.sql.functions.lit(0L))
    // kill the fold right after its marker, then rewrite the marker in
    // the format of a release whose marker carried only the rewrite fields
    Tables.crashHook = Some(t => if (t == "incr:gen-marker") sys.error("injected crash"))
    try intercept[RuntimeException](Tables.compactIncremental(spark, path, Seq(), "ts"))
    finally Tables.crashHook = None
    val marker = new java.io.File(path + ".gen.commit")
    val gm = org.json4s.jackson.Serialization.read[GenMarker](
      new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8"))
    assert(gm.newFiles.nonEmpty && gm.replaced.nonEmpty)
    java.nio.file.Files.write(marker.toPath, org.json4s.jackson.Serialization.write(
      Map("ts" -> gm.ts, "newFiles" -> gm.newFiles, "replaced" -> gm.replaced))
      .getBytes("UTF-8"))
    // the next op's entry rolls the fold forward: the folded files are
    // live and loaded, the replaced ones out of the live set (retired, or
    // reclaimed past the grace), no row lost or doubled
    Tables.append(rows(130L, 140L), path, "ts", org.apache.spark.sql.functions.lit(0L))
    assert(!marker.exists && !new java.io.File(path + ".gen.tmp").exists)
    val m = Tables.manifest(spark, path).get
    val live = m.files.map(e => e.name -> e).toMap
    assert(gm.newFiles.forall(n => live.get(n).exists(_.loaded)),
      s"rolled-forward files must be live and loaded: ${m.files}")
    assert(gm.replaced.forall(n => !live.contains(n) && (m.retired.exists(_.name == n) ||
      !new java.io.File(path, n).exists)))
    assert(Tables.snapshot(spark, path).select("ts").as[Long].collect().sorted.toSeq ==
      (0L until 140L))
  }
}
