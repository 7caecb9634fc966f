package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** Golden regression net: every declared query must execute on sf0.001 AND
  * reproduce the committed (rowCount, sha256) fingerprint from
  * `src/test/resources/golden_sf0.001.json` (see [[GoldenGen]] for the
  * canonical form and the regeneration path). The DuckDB oracle
  * (tools/check.py) owns cross-engine value correctness for oracled keys;
  * this file is what catches a silent result drift on the declared-only keys
  * the oracle never sees.
  */
class GoldenSpec extends SparkSpec {

  private lazy val golden: Map[String, (Long, String)] = {
    val node = new ObjectMapper().readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(GoldenGen.goldenPath)))
    val it = node.fields()
    val b = Map.newBuilder[String, (Long, String)]
    while (it.hasNext) {
      val e = it.next()
      b += e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("hash").asText())
    }
    b.result()
  }

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name matches its golden fingerprint on sf0.001") {
      val (rows, hash) = GoldenGen.fingerprint(q(name))
      // operators persist/checkpoint internally; don't let blocks pile up
      // across the ~100-query sweep
      graft.api.Caches.sweepAll(spark)
      assert(rows > 0, s"$name returned 0 rows")
      val (gRows, gHash) = golden.getOrElse(name,
        fail(s"$name missing from ${GoldenGen.goldenPath} — regenerate via " +
          "`sbt \"runMain graft.GoldenGen /root/testdata/sf0.001\"` and commit"))
      assert(rows == gRows, s"$name row count drifted: $rows vs golden $gRows")
      if (!GoldenGen.mergeOrderSensitive(name))
        assert(hash == gHash,
          s"$name result drifted from the committed golden hash — if the " +
            "change is intentional, regenerate via " +
            "`sbt \"runMain graft.GoldenGen /root/testdata/sf0.001\"`")
    }
  }

  test("golden file has no orphan keys") {
    val orphans = golden.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"golden entries without queries: $orphans")
  }

  test("every oracleSql key has a matching queries key") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }

  test("registry names are unique") {
    val names = SparkEntry.queries.keys.toSeq
    assert(names.distinct.size == names.size)
  }
}
