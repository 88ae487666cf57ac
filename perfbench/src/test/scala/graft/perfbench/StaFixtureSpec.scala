package graft.perfbench

import graft.sources.sta.StaHttp
import org.scalatest.funsuite.AnyFunSuite

/** The loopback server counts a GET of a page it already served in the
  * same window as a client retry.
  */
class StaFixtureSpec extends AnyFunSuite {

  test("a repeat GET within a window counts as a retry; a new window starts afresh") {
    val track = ShipTrack.generate(1L, streams = 3, seconds = 600, rates = Seq(20))
    val server = new StaFixture(track, pageSize = 10, threads = 2)
    try {
      val url = s"${server.datastreamsUrl}?%24filter=" +
        StaHttp.enc(s"Datastream/id eq ${track.independentId}")
      val first = StaHttp.get(url)
      assert(first.contains("@iot.nextLink"))
      assert(server.counters("repeats") == 0L)
      StaHttp.get(url + "&%24skip=10")
      assert(server.counters("repeats") == 0L)
      assert(StaHttp.get(url) == first)
      assert(server.counters("repeats") == 1L)
      server.takeServed()
      StaHttp.get(url)
      assert(server.counters("repeats") == 1L)
      assert(server.counters("gets") == 4L)
    } finally server.stop()
  }
}
