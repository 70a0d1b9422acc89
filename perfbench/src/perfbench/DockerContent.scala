package perfbench

import java.util.SplittableRandom

/** Seeded Docker-event content shared by the fake daemon and the backlog:
  * container ids, compose labels, which containers opted out of the `LOG`
  * label, and the action mix. */
final class DockerContent(seed: Long, nContainers: Int) {
  import DockerContent._
  private val rnd = new SplittableRandom(seed)
  private def hex(n: Int) =
    (1 to n).map(_ => "0123456789abcdef"(rnd.nextInt(16))).mkString
  private val projects = IndexedSeq.fill(3)("p" + hex(4))
  private val noLogShare = 0.1 + 0.2 * rnd.nextDouble()
  val containers: IndexedSeq[Container] = IndexedSeq.tabulate(nContainers) {
    i =>
      val svc = s"svc${rnd.nextInt(12)}"
      Container(hex(64), s"img${rnd.nextInt(8)}:1", s"c$i-$svc",
        projects(rnd.nextInt(projects.size)), svc,
        logged = rnd.nextDouble() >= noLogShare)
  }
  private val actionCdf = {
    val w = Actions.map(_ => 0.2 + rnd.nextDouble())
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def container(r: SplittableRandom): Container =
    containers(r.nextInt(containers.size))
  def action(r: SplittableRandom): String = {
    val u = r.nextDouble()
    Actions(actionCdf.indexWhere(u < _) max 0)
  }
}

object DockerContent {
  val Actions = IndexedSeq("start", "die", "stop", "health_status", "create",
    "kill", "restart", "pause")

  final case class Container(id: String, image: String, name: String,
      project: String, service: String, logged: Boolean)

  /** One event in the Docker Engine API's `GET /events` shape, as one
    * JSON line. */
  def event(c: Container, action: String, timeNano: Long): String = {
    val attrs = Seq("image" -> c.image, "name" -> c.name,
      "com.docker.compose.project" -> c.project,
      "com.docker.compose.service" -> c.service) ++
      (if (c.logged) Seq("LOG" -> "true") else Nil)
    val a = attrs.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    s"""{"status":"$action","id":"${c.id}","from":"${c.image}",""" +
      s""""Type":"container","Action":"$action","Actor":{"ID":"${c.id}",""" +
      s""""Attributes":{$a}},"scope":"local","time":${
        timeNano / 1000000000L},"timeNano":$timeNano}"""
  }
}
