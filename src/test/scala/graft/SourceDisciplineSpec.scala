package graft

/** Source-discipline regression gate — the mechanical form of the
  * per-round manual audit ("all N `.collect()` sites are k- or
  * count-bounded, `coalesce(1)` only in the parity sink, `groupByKey`
  * only for stateful streaming, zero `udf(`"). Like ShuffleBudgetSpec,
  * it pins PER-FILE counts of the driver-side / anti-pattern constructs
  * to a committed baseline and fails any file whose count GROWS — so a
  * new unreviewed collect/coalesce(1)/groupByKey site breaks the build
  * and forces the boundedness argument into the commit that adds it.
  *
  * Counts may legitimately change; regenerate with
  *   GRAFT_REGEN_DISCIPLINE_BASELINE=1 sbt "testOnly graft.SourceDisciplineSpec"
  * and review the diff of src/test/resources/source_discipline.json —
  * the diff IS the review artifact (which file gained which construct).
  *
  * `udf(` is not baselined: it is an unconditional zero (a Scala UDF in
  * the hot path forfeits codegen — the repo's native-Expression doctrine).
  * Neither is `SparkSession.builder()` outside `graft/Session.scala`: every
  * driver, tool and test session starts from `graft.Session`. Nor are the
  * media codec entry points: each is called once, in `ext/Multimodal.scala`.
  */
class SourceDisciplineSpec extends SparkSpec {

  private val baselinePath = "src/test/resources/source_discipline.json"
  private val root = new java.io.File("src/main/scala/graft")

  // pattern -> regex. `.collect()` also catches `.collect().map` etc.;
  // `collect {` (partial-function collect on Scala collections/plans) is
  // deliberately NOT matched.
  private val patterns: Seq[(String, scala.util.matching.Regex)] = Seq(
    "collect" -> """\.collect\(\)""".r,
    "localRead" -> """collectAsList|toLocalIterator|\.head\(\)|\.first\(\)""".r,
    "coalesce1" -> """coalesce\(1\)""".r,
    "groupByKey" -> """\.groupByKey\(""".r)

  private def scalaFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  private def rel(f: java.io.File): String = f.getPath.replace('\\', '/')

  /** The lines of `text` that are not `//` or scaladoc/block comment lines. */
  private def codeLines(text: String): Iterator[String] =
    text.linesIterator.filterNot(_.trim.matches("""(//|/?\*).*"""))

  test("driver-side construct counts do not grow past the committed baseline") {
    val counts = scala.collection.immutable.TreeMap.newBuilder[String, Int]
    var udfHits = List.empty[String]
    var builderHits = List.empty[String]
    scalaFiles(root).foreach { f =>
      val text = read(f)
      val path = rel(f)
      patterns.foreach { case (label, re) =>
        val n = re.findAllMatchIn(text).size
        if (n > 0) counts += s"$path#$label" -> n
      }
      if ("""(?<![.\w])udf\(""".r.findFirstIn(text).isDefined)
        udfHits ::= path
      if (!path.endsWith("graft/Session.scala") &&
        codeLines(text).exists(_.contains("SparkSession.builder()")))
        builderHits ::= path
    }
    assert(udfHits.isEmpty,
      s"Scala udf() forfeits codegen — use a native Expression: $udfHits")
    assert(builderHits.isEmpty,
      s"build sessions with graft.Session, not SparkSession.builder(): $builderHits")

    val got = counts.result()
    val f = new java.io.File(baselinePath)
    if (sys.env.contains("GRAFT_REGEN_DISCIPLINE_BASELINE") || !f.exists()) {
      val json = got.map { case (k, v) => s"""  "$k": $v""" }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.createDirectories(f.toPath.getParent)
      java.nio.file.Files.write(f.toPath, json.getBytes("UTF-8"))
      info(s"discipline baseline written for ${got.size} file/pattern cells")
    } else {
      val entry = """\s*"([^"]+)":\s*(\d+),?\s*""".r
      val base = scala.io.Source.fromFile(f, "UTF-8").getLines().collect {
        case entry(k, v) => k -> v.toInt
      }.toMap
      val grew = got.collect {
        case (k, v) if v > base.getOrElse(k, 0) =>
          s"$k: ${base.getOrElse(k, 0)} -> $v"
      }
      assert(grew.isEmpty,
        "driver-side construct count grew — argue boundedness in the commit " +
          "and regen with GRAFT_REGEN_DISCIPLINE_BASELINE=1: " +
          grew.mkString(", "))
    }
  }

  test("each media codec entry point is called exactly once, in ext/Multimodal.scala") {
    // one image decoder, one image encoder, one audio-reader loop: a
    // second call site is a second copy of a codec step
    val entryPoints = Seq("ImageIO.read(", "ImageIO.write(", "getAudioInputStream(")
    val home = "src/main/scala/graft/ext/Multimodal.scala"
    val files = scalaFiles(root).map(f => rel(f) -> codeLines(read(f)).toList)
    entryPoints.foreach { call =>
      val sites = for {
        (path, lines) <- files
        line <- lines
        _ <- 1 until line.split(java.util.regex.Pattern.quote(call), -1).length
      } yield path
      assert(sites == Seq(home),
        s"$call must appear once, in $home; found at: ${sites.mkString(", ")}")
    }
  }
}
