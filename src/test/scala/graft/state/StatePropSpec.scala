package graft.state

import graft.state.StateOps._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Invariants of the ChirpStack state machine over arbitrary message
  * sequences (SURVEY §7.4 hard part 2 — the semantics are defined by
  * arrival order; these properties hold for EVERY order). */
object StatePropSpec extends Properties("ChirpState") {

  private val genRec: Gen[Rec] = for {
    route <- Gen.frequency(5 -> "radio", 3 -> "app", 1 -> "join", 1 -> "raw")
    devAddr <- Gen.option(Gen.oneOf("aa01", "bb02", "cc03"))
    fCnt <- Gen.option(Gen.choose(0L, 3L))
    devEui <- Gen.option(Gen.oneOf("e1", "e2"))
  } yield Rec(0, 1L, route, Some("t"), "m", devAddr, fCnt, devEui,
    None, None, None, None, None, RecFixtures.packetFor(route, devAddr, fCnt), 0)

  private def runAll(recs: List[Rec]): (ChirpState, Seq[Envelope]) =
    recs.zipWithIndex.foldLeft((ChirpState.empty, Seq.empty[Envelope])) {
      case ((st, acc), (r, i)) =>
        val (st2, out) = chirpStep(st, r.copy(seq = i, arrivalTs = 1000 + i))
        (st2, acc ++ out)
    }

  property("buffer holds at most one packet; buffered packet is never lost") =
    forAll(Gen.listOfN(30, genRec)) { recs =>
      val (st, envs) = runAll(recs)
      // conservation: every radio record either emitted in some envelope
      // or still buffered
      val radioIn = recs.count(_.route == "radio")
      val radioOut = envs.count(_.packet.isDefined)
      val buffered = st.prev.size
      radioOut + buffered == radioIn
    }

  property("message-less envelopes arise only from a join absorbing the " +
    "buffer, and the save() gate drops them (PacketPersistence.py:28-31)") =
    forAll(Gen.listOfN(30, genRec)) { recs =>
      val envs = runAll(recs)._2
      val empties = envs.filter(_.messages.isEmpty)
      // each one is a prev flush (has a packet) and needs a join to have
      // emptied the buffer first; the persistence layer then discards it
      empties.forall(_.packet.isDefined) &&
        empties.size <= recs.count(_.route == "join")
    }

  property("device map only grows via join/app routes; LWW holds") =
    forAll(Gen.listOfN(30, genRec)) { recs =>
      val (st, _) = runAll(recs)
      // replay and track last writer per devAddr
      val expected = scala.collection.mutable.Map[String, DeviceInfo]()
      var prev: Option[Rec] = None
      recs.foreach { r =>
        r.route match {
          case "join" =>
            r.devAddr.foreach(da =>
              expected(da) = DeviceInfo(r.devEui, None, None, fromApp = false))
          case "app" =>
            // only updates when it pairs with the buffered packet
            prev.foreach { p =>
              if (p.fCount.isDefined && p.fCount == r.fCount)
                p.devAddr.foreach(da =>
                  expected(da) = DeviceInfo(r.devEui, None, None, fromApp = true))
            }
            prev = None
          case "radio" =>
            prev = r.devAddr match {
              case Some(da) if !expected.contains(da) => Some(r)
              case _ => None
            }
          case _ => prev = None
        }
      }
      st.devices == expected.toMap
    }

  property("order sensitivity is confined to pairing: permuting non-radio/app " +
    "suffix of raws never changes the device map") =
    forAll(Gen.listOfN(20, genRec)) { recs =>
      val raws = List.fill(3)(Rec(0, 1L, "raw", Some("t"), "m", None, None,
        None, None, None, None, None, None, None, 0))
      runAll(recs ++ raws)._1.devices == runAll(recs)._1.devices
    }
}
