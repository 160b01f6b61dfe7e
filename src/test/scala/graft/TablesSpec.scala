package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Tables` reads the star-schema tables with pinned schemas; each must be
  * exactly what Spark infers from the files, at every committed scale. */
class TablesSpec extends AnyFunSuite {

  // every committed scale of the test tables, and the benchmark's copy
  private val dirs = {
    val testdata = new java.io.File(TestSpark.sfDir).getParent
    (Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$testdata/$sf") :+ "perfbench/data/sf0.1")
      .filter(d => new java.io.File(d).isDirectory)
  }

  test("every pinned table schema equals the schema Spark infers, in every data directory") {
    assert(dirs.contains(TestSpark.sfDir), s"no data directory among $dirs")
    val spark = Graft.session("local[4]", 4)
    for (dir <- dirs; name <- Tables.all) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      val pinned = Tables(spark, dir, name).schema
      assert(pinned === inferred,
        s"$dir/$name: pinned\n${pinned.treeString}inferred\n${inferred.treeString}")
    }
  }

  test("an unknown table name fails with a message that names it") {
    val spark = Graft.session("local[4]", 4)
    val e = intercept[IllegalArgumentException](
      Tables(spark, TestSpark.sfDir, "lineitems"))
    assert(e.getMessage.contains("'lineitems'"), e.getMessage)
  }
}
