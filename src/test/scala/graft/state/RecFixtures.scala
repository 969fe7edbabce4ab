package graft.state

import graft.state.StateOps.Pkt

/** Packets for hand-built Recs. A normalized radio Rec's packet carries
  * its PHY dev_addr and f_count; the state steps persist that packet,
  * enriched, so a radio fixture needs one for its envelope to carry a
  * packet at all. */
object RecFixtures {

  val emptyPkt: Pkt = Pkt(None, None, None, None, None, None, None, None,
    None, None, None, None, None, None, None, None, None, None, None, None,
    None, None, None, None, None, None, None, None, None, None, None, None,
    None, None, None, None, None, None)

  /** The packet of a Rec on `route`: radio rows carry one, others none. */
  def packetFor(route: String, devAddr: Option[String] = None,
                fCount: Option[Long] = None): Option[Pkt] =
    if (route == "radio") Some(emptyPkt.copy(dev_addr = devAddr, f_count = fCount))
    else None
}
