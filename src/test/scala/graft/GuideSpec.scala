package graft

import org.scalatest.funsuite.AnyFunSuite

/** USER_GUIDE.md's GENERATED blocks are `graft.Guide`'s output, spliced
  * in by `tools/gen_guide.sh`; this fails when either block has drifted
  * from the code (rerun the script to fix it).
  */
class GuideSpec extends AnyFunSuite {
  private lazy val guide = {
    val f = new java.io.File("USER_GUIDE.md")
    assert(f.isFile, s"run from the repository root (${f.getAbsolutePath})")
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
  }

  private def block(marker: String): String = {
    val open = s"<!-- GENERATED:$marker -->\n"
    val close = s"<!-- /GENERATED:$marker -->"
    val from = guide.indexOf(open)
    val to = guide.indexOf(close, from)
    assert(from >= 0 && to > from, s"USER_GUIDE.md has no GENERATED:$marker block")
    guide.substring(from + open.length, to)
  }

  test("USER_GUIDE's registry block is Guide's registry output") {
    assert(block("REGISTRY") == Guide.registry + "\n",
      "stale GENERATED:REGISTRY block; run tools/gen_guide.sh")
  }

  test("USER_GUIDE's query index block is Guide's queries output") {
    assert(block("QUERIES") == Guide.queries + "\n",
      "stale GENERATED:QUERIES block; run tools/gen_guide.sh")
  }
}
