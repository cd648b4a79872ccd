package perfbench

import java.time.OffsetDateTime
import java.time.format.DateTimeFormatter

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val anchor = 1790000000L / 3600 * 3600

  private def events(seed: Long, p: StreamProps, n: Int): Vector[Event] = {
    val g = new Gen(seed, p, anchor)
    Vector.fill(n)(g.next())
  }

  test("the same seed and anchor give the same pages; another seed does not") {
    for (p <- Seq(Spec.Ingest, Spec.Warehouse)) {
      val a = events(7, p, 3000).map(_.json)
      assert(a == events(7, p, 3000).map(_.json))
      assert(a != events(8, p, 3000).map(_.json))
    }
  }

  test("page() is the same stream as next(), cut into pages") {
    val g = new Gen(3, Spec.Warehouse, anchor)
    val paged = Vector.fill(5)(g.page(100).toVector).flatten.map(_.json)
    assert(paged == events(3, Spec.Warehouse, 500).map(_.json))
  }

  test("each dirty-input share holds within 1 point over 40k events") {
    for (p <- Seq(Spec.Ingest, Spec.Warehouse)) {
      val g = new Gen(11, p, anchor)
      val n = 40000
      val es = Vector.fill(n)(g.next())
      def share(k: Gen.Kind) = es.count(_.kind == k).toDouble / n
      assert(math.abs(share(Gen.NullKey) - p.nullKeyShare) < 0.01)
      assert(math.abs(share(Gen.Stale) - p.staleShare) < 0.01)
      assert(math.abs(share(Gen.JunkTs) - p.junkTsShare) < 0.01)
      assert(math.abs(share(Gen.DroppedStatus) - p.droppedStatusShare) < 0.01)
      val polls = es.count(e => e.kind == Gen.Kept || e.kind == Gen.DroppedStatus)
      assert(math.abs(g.updates.toDouble / polls - p.updateShare) < 0.02)
      assert(g.byKind.values.sum == n)
    }
  }

  test("the IATA-null share of airlines and airports holds") {
    val p = Spec.Warehouse.copy(airlines = 600, airports = 4000)
    val g = new Gen(5, p, anchor)
    val nulls = (0 until p.airlines).count(i => g.airlineCodes(i)._1 == null) +
      (0 until p.airports).count(i => g.airportCodes(i)._1 == null)
    assert(math.abs(nulls.toDouble / (p.airlines + p.airports) - p.iataNullShare) < 0.02)
    val icaos = (0 until p.airports).map(i => g.airportCodes(i)._2)
    assert(icaos.distinct.size == icaos.size, "ICAO codes are distinct")
  }

  test("exactly the kept polls pass the generator's own filter model") {
    val es = events(13, Spec.Ingest, 20000)
    assert(es.forall(e => e.kept == (e.kind == Gen.Kept)))
    assert(es.filter(_.kept).forall(e => e.sig != null && e.key != null))
    assert(es.exists(e => e.json.contains("\"flight_key\":null")))
  }

  test("zoned shapes render the instant the model expects") {
    val rnd = new java.util.SplittableRandom(1)
    val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssXX")
    for (_ <- 1 to 200) {
      val t = anchor + rnd.nextLong(86400L)
      val (s, e) = Gen.CompactZone.render(t, rnd)
      assert(OffsetDateTime.parse(s, iso).toEpochSecond == t)
      assert(e.contains(t))
      val (z, ez) = Gen.Zulu.render(t, rnd)
      assert(OffsetDateTime.parse(z).toEpochSecond == t && ez.contains(t))
      val (n, en) = Gen.NoSeconds.render(t, rnd)
      assert(n.length == 17 && en.contains(t - t % 60))
      val (one, e1) = Gen.OneDigitSeconds.render(t, rnd)
      assert(one.length == 19 && e1.contains(t - t % 60 + (t % 60) % 10))
      assert(Gen.LongFraction.render(t, rnd)._2.isEmpty)
      assert(Gen.Junk.render(t, rnd)._2.isEmpty)
    }
  }
}
