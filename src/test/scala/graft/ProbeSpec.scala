package graft

/** Every scale probe in [[Probe.Probes]], run at its tiny sizes in the
  * shared session: each row's own verdicts (planted recall, parity,
  * seams) must hold there. The README's probe command lines must name
  * table rows and fit their positional sizes, so a documented command
  * runs the experiment it names. */
class ProbeSpec extends SparkSpec {

  test("probe table: unique names, one tiny size per default size") {
    assert(Probe.Probes.map(_.name).distinct.size === Probe.Probes.size)
    Probe.Probes.foreach(r => assert(r.tiny.size === r.defaults.size, r.name))
  }

  Probe.Probes.foreach { row =>
    test(s"probe ${row.name} holds its verdicts at its tiny sizes") {
      try row.run(spark, row.tiny)
      finally spark.catalog.clearCache()
    }
  }

  test("README probe lines name table rows and fit their sizes") {
    val src = scala.io.Source.fromFile("README.md", "UTF-8")
    val lines = try src.getLines().filter(_.contains("runMain graft.Probe ")).toList
      finally src.close()
    val rows = Probe.Probes.map(r => r.name -> r).toMap
    val named = lines.map { l =>
      val args = l.split("runMain graft.Probe ")(1).takeWhile(_ != '"')
        .trim.split("\\s+").toSeq
      val row = rows.get(args.head)
      assert(row.isDefined, s"unknown probe in: $l")
      assert(args.tail.size <= row.get.defaults.size, s"too many sizes in: $l")
      assert(args.tail.forall(_.toIntOption.isDefined), s"non-integer size in: $l")
      args.head
    }
    assert(named.toSet === rows.keySet, "README must list every probe")
  }
}
