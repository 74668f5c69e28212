package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** The per-row kernel contract: Scala UDFs take primitive arrays.
  *
  * Spark hands a typed UDF's `Seq[T]` argument over as a linked `List`, so
  * an indexed loop (`while (j < s.length) … s(j)`) walks the list on every
  * access and turns quadratic per row. An `Array[T]` parameter is one
  * primitive copy of the row's array. */
class KernelSpec extends SparkSpec {
  import spark.implicits._

  private val one = Seq(Tuple1(Array(1L, 2L, 3L))).toDF("v")

  test("a Seq[Long] UDF argument arrives as a linked List, an Array[Long] one as long[]") {
    val seqClass = udf((s: Seq[Long]) => s.getClass.getName)
    val arrClass = udf((a: Array[Long]) => a.getClass.getName)
    val r = one.select(seqClass(col("v")), arrClass(col("v"))).head()
    assert(classOf[List[_]].isAssignableFrom(Class.forName(r.getString(0))), r.getString(0))
    assert(r.getString(1) == classOf[Array[Long]].getName)
  }

  test("no UDF lambda in the main sources takes a Seq of a primitive") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    // `udf((a: T, ...) =>` and `udf { (a: T, ...) =>`, over line breaks
    val lambda = """\budf\s*[({]\s*\(([^()]*)\)\s*=>""".r
    val seqParam = """:\s*(?:scala\.)?(?:collection\.)?(?:immutable\.)?Seq\[(?:Long|Int|Double|Float)\]""".r
    // Bench.scala is the frozen benchmark harness: its copies stay as they are
    val offenders = for {
      f <- files(root) if f.getName != "Bench.scala"
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      m <- lambda.findAllMatchIn(src) if seqParam.findFirstIn(m.group(1)).isDefined
    } yield s"${root.toPath.relativize(f.toPath)}:${src.substring(0, m.start).count(_ == '\n') + 1}"
    assert(offenders.isEmpty, s"declare Array[T], not Seq[T], in: ${offenders.mkString(", ")}")
  }

  test("minhashSignature over a 5,000-shingle row equals a driver-side loop") {
    def mix(x: Long): Long = { // splitmix64
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val sh = (1 to 5000).map(i => mix(i.toLong)).distinct.sorted.toArray
    val k = 32
    val expected = Array.tabulate(k) { i =>
      val seed = (i + 1).toLong * 0xff51afd7ed558ccdL
      sh.map(h => mix(h ^ seed)).min
    }
    val rows = Seq(Tuple1(sh), Tuple1(Array.empty[Long])).toDF("sh")
      .select(Dedup.minhashSignature(col("sh"), k)).collect().map(_.getSeq[Long](0))
    assert(rows(0) == expected.toSeq)
    assert(rows(1) == Seq.fill(k)(Long.MaxValue), "an empty set keeps every minimum at Long.MaxValue")
  }
}
