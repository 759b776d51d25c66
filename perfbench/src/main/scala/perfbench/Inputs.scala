package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. The same seed always gives the same bytes;
  * the program only ever sees the written files. */
object Inputs {

  /** The 30-word vocabulary of the contract corpora's documents. */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** Lines that `Points.readCsv` must drop: wrong arity, unparseable or
    * empty fields. */
  val MalformedLines: IndexedSeq[String] = IndexedSeq("4,5", "a,b,c", "7,8,", ",,", "9,9,9,9")

  /** Points as x,y,z triples in file order, in the reference's ranges
    * (x in [0, 9999.999], y and z in [0, 1000]) on a 1/1000 grid, so each
    * value prints and parses back exactly. */
  def points(rng: Random, n: Int): Array[Double] = {
    val xyz = new Array[Double](3 * n)
    var i = 0
    while (i < n) {
      xyz(3 * i) = rng.nextInt(10000000) / 1000.0
      xyz(3 * i + 1) = rng.nextInt(1000001) / 1000.0
      xyz(3 * i + 2) = rng.nextInt(1000001) / 1000.0
      i += 1
    }
    xyz
  }

  def pointLine(xyz: Array[Double], i: Int): String =
    s"${xyz(3 * i)},${xyz(3 * i + 1)},${xyz(3 * i + 2)}"

  /** Writes the points as one headerless CSV file, with `malformed` bad
    * lines at seeded positions. Returns the number of bad lines written. */
  def writePointsCsv(file: Path, xyz: Array[Double], malformed: Int, rng: Random): Int = {
    Files.createDirectories(file.getParent)
    val n = xyz.length / 3
    val bad = Array.fill(malformed)(rng.nextInt(n)).sorted
    val w = new BufferedWriter(new FileWriter(file.toFile), 1 << 16)
    try {
      var b = 0
      var i = 0
      while (i < n) {
        while (b < bad.length && bad(b) == i) {
          w.write(MalformedLines(b % MalformedLines.size)); w.write('\n'); b += 1
        }
        w.write(pointLine(xyz, i)); w.write('\n')
        i += 1
      }
    } finally w.close()
    malformed
  }

  def writeLines(path: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.map(_ + "\n").mkString)
  }

  /** A document of 10 to 100 vocabulary words joined by single spaces,
    * the contract corpora's shape. */
  def document(rng: Random): String =
    Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")

  /** `text` with each word replaced, with probability `share`, by a
    * random vocabulary word. */
  def edit(text: String, share: Double, rng: Random): String =
    text.split(" ").map(w => if (rng.nextDouble() < share) Vocab(rng.nextInt(Vocab.size)) else w)
      .mkString(" ")

  /** Schema of the document files. */
  val DocSchema = "doc_id BIGINT, text STRING"

  /** Writes (doc_id, text) rows as JSON lines in `files` files (doc i goes
    * to file i mod files). Texts are vocabulary words and spaces, so they
    * need no escaping. */
  def writeDocs(dir: Path, docs: Seq[(Long, String)], files: Int): Unit = {
    Files.createDirectories(dir)
    val writers = (0 until files).map(f =>
      new BufferedWriter(new FileWriter(dir.resolve(f"part-$f%05d.json").toFile), 1 << 16))
    try docs.zipWithIndex.foreach { case ((id, text), i) =>
      writers(i % files).write(s"""{"doc_id": $id, "text": "$text"}\n""")
    } finally writers.foreach(_.close())
  }

  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(DocSchema).json(dir)

  /** Writes (doc_id, text) rows as parquet in `files` files, for inputs
    * the program scans several times. */
  def writeDocsParquet(spark: SparkSession, path: String, docs: Seq[(Long, String)], files: Int): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text").repartition(files).write.mode("overwrite").parquet(path)
  }

  /** Distinct word bigrams of a text, as `Dedup.shingles` defines them. */
  def bigrams(text: String): Set[String] = {
    val w = text.split(" ", -1)
    if (w.length < 2) Set.empty else w.sliding(2).map(_.mkString(" ")).toSet
  }

  /** Exact word-bigram Jaccard similarity. */
  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = (a intersect b).size
    i.toDouble / (a.size + b.size - i).toDouble
  }

  /** Size in bytes and number of regular files under a directory. */
  def du(dir: Path): (Long, Int) =
    if (!Files.exists(dir)) (0L, 0)
    else {
      val s = Files.walk(dir)
      try {
        val files = s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        (files.map(Files.size).sum, files.length)
      } finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }

  def path(first: String, more: String*): Path = Paths.get(first, more: _*)
}
