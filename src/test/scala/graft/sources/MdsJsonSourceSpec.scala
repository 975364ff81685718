package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

class MdsJsonSourceSpec extends SparkSpec {

  private val fixtures = getClass.getResource("/fixtures").getPath

  /** The `multiLine` JSON read [[MdsJsonSource.readStudies]] replaced. */
  private def multiLineRead(dir: String): DataFrame =
    spark.read.option("multiLine", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.json")
      .json(dir)

  private def assertSameRead(dir: String): DataFrame = {
    val whole = MdsJsonSource.readStudies(spark, dir)
    val multi = multiLineRead(dir)
    assert(whole.schema == multi.schema)
    assert(whole.except(multi).isEmpty && multi.except(whole).isEmpty,
      s"rows differ:\n${whole.collect().mkString("\n")}\nvs\n${multi.collect().mkString("\n")}")
    assert(whole.count() == multi.count())
    whole
  }

  private def write(dir: Path, name: String, bytes: Array[Byte]): Unit = {
    Files.createDirectories(dir.resolve(name).getParent)
    Files.write(dir.resolve(name), bytes)
  }

  test("whole-text read equals the multiLine read on the MDS fixtures") {
    val studies = assertSameRead(s"$fixtures/mds")
    assert(studies.count() == 2)
    assert(!studies.columns.contains("_corrupt_record"))
  }

  test("whole-text read equals the multiLine read: top-level array, malformed file, UTF-8 BOM") {
    val dir = Files.createTempDirectory("mds_edge")
    def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)
    write(dir, "plain.json", utf8("""{"id": "p", "n": 1, "tags": ["a", "b"]}"""))
    // a top-level array: one row per element
    write(dir, "array.json", utf8("""[{"id": "a1", "n": 2}, {"id": "a2", "nested": {"x": "y"}}]"""))
    // malformed: one _corrupt_record row holding the file's text
    write(dir, "broken.json", utf8("""{"id": "broken", "n": """))
    // a leading UTF-8 byte-order mark parses like the file without it
    write(dir, "sub/bom.json",
      Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ utf8("""{"id": "bom", "n": 3}"""))
    // not picked up: the glob is *.json
    write(dir, "notes.txt", utf8("""{"id": "txt"}"""))

    val studies = assertSameRead(dir.toString)
    val ids = studies.filter(col("_corrupt_record").isNull)
      .select("id").collect().map(_.getString(0)).sorted
    assert(ids.sameElements(Array("a1", "a2", "bom", "p")))
    val corrupt = studies.filter(col("_corrupt_record").isNotNull)
      .select("_corrupt_record").collect().map(_.getString(0))
    assert(corrupt.sameElements(Array("""{"id": "broken", "n": """)))
  }
}
