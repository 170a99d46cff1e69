package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.sources.TimeCampClient

/** Size of the generated account. */
final case class AccountSize(
    users: Int, groups: Int, tasks: Int, maxDepth: Int, entries: Int,
    activityDays: Int, activityRowsPerDay: Int, apps: Int,
    throttledPerMille: Int)

/** A seeded synthetic TimeCamp account, answered in-process through the
  * pipeline's transport seam. Every response body is rendered once at
  * construction, so serving a request is a lookup plus concatenation. The
  * same seed gives byte-identical bodies.
  *
  * The account covers one calendar year (two six-month entry batches).
  * Activities exist on its last `activityDays` days; the pipeline still
  * asks for every (user, 20-day chunk) of the year, as the reference does.
  * About 1% of entries are re-sent verbatim, so the pipeline's id dedup has
  * work to do and the expected counts stay exact.
  */
final class TimeCampAccount(seed: Long, size: AccountSize) {
  val from = "2024-01-01"
  val to = "2024-12-31"
  private val rnd = new scala.util.Random(seed)

  // ---------------------------------------------------------------- users
  private val groupDepth = Array.fill(size.groups)(0)
  private val groupParent = Array.tabulate(size.groups) { g =>
    if (g == 0) -1
    else {
      val p = Iterator.continually(rnd.nextInt(g)).find(groupDepth(_) < 4).get
      groupDepth(g) = groupDepth(p) + 1
      p
    }
  }
  val userIds: IndexedSeq[String] = (0 until size.users).map(u => (1001 + u).toString)
  private val userGroup = Array.fill(size.users)(rnd.nextInt(size.groups))
  /** One user in 40 carries the `disabled_user` setting. */
  val disabled: Set[String] = userIds.indices.filter(_ % 40 == 39).map(userIds).toSet
  val enabledUsers: IndexedSeq[String] = userIds.filterNot(disabled)

  // ---------------------------------------------------------------- tasks
  private val nRoots = math.max(1, size.tasks / 200)
  private val taskDepth = Array.fill(size.tasks)(0)
  /** Parent index per task (-1 for a project root). Children attach to a
    * recent task, which grows deep chains up to `maxDepth` levels.
    */
  val taskParent: Array[Int] = Array.tabulate(size.tasks) { i =>
    if (i < nRoots) -1
    else {
      val j = i - 1 - rnd.nextInt(math.min(i, 64))
      val p = if (taskDepth(j) < size.maxDepth - 1) j else rnd.nextInt(nRoots)
      taskDepth(i) = taskDepth(p) + 1
      p
    }
  }
  def taskId(i: Int): String = (i + 1).toString
  val budgeted: Array[Long] = Array.fill(size.tasks)(
    if (rnd.nextDouble() < 0.4) (1 + rnd.nextInt(400)) * 900L else 0L)
  def maxDepth: Int = taskDepth.max + 1

  // -------------------------------------------------------------- entries
  private val days = {
    val d0 = java.time.LocalDate.parse(from)
    Iterator.iterate(d0)(_.plusDays(1))
      .takeWhile(!_.isAfter(java.time.LocalDate.parse(to))).map(_.toString).toIndexedSeq
  }
  private val entryTask = Array.fill(size.entries)(rnd.nextInt(size.tasks))
  private val entryDuration = Array.fill(size.entries)(60L + rnd.nextInt(28740))
  private val entryDay = Array.fill(size.entries)(days(rnd.nextInt(days.size)))
  private val entryJson: Array[String] = Array.tabulate(size.entries) { e =>
    val tags = Seq.fill(rnd.nextInt(3))("\"tag" + rnd.nextInt(12) + "\"")
    s"""{"id": ${e + 1}, "user_id": "${userIds(rnd.nextInt(size.users))}", """ +
      s""""task_id": "${taskId(entryTask(e))}", "date": "${entryDay(e)}", """ +
      s""""duration": ${entryDuration(e)}, "tags": ${tags.mkString("[", ",", "]")}}"""
  }
  private val resent = Array.fill(size.entries)(rnd.nextInt(100) == 0)
  private val entryBodies: Map[(String, String), (String, Int)] =
    TimeCampClient.periodBatches(
      java.time.LocalDate.parse(from), java.time.LocalDate.parse(to))
      .map { case (f, t) =>
        val rows = entryJson.indices
          .filter(e => entryDay(e) >= f && entryDay(e) <= t)
          .flatMap(e => Seq.fill(if (resent(e)) 2 else 1)(entryJson(e)))
        (f, t) -> (rows.mkString("[", ",", "]"), rows.size)
      }.toMap

  // ----------------------------------------------------------- activities
  private val zipfCdf = {
    val w = (1 to size.apps).map(k => 1.0 / math.pow(k, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def zipfApp(): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, size.apps - 1)
  }
  def appId(a: Int): String = (5000 + a).toString
  private val activityDays = days.takeRight(size.activityDays).toSet
  private val dayIndex = days.zipWithIndex.toMap
  private val userIndex = userIds.zipWithIndex.toMap
  /** Application index per activity row, per (user, day); empty outside
    * the activity window.
    */
  private val activityApps: Array[Array[Array[Int]]] = Array.tabulate(size.users) { _ =>
    days.map { d =>
      if (!activityDays(d)) Array.emptyIntArray
      else Array.fill(size.activityRowsPerDay / 2 + rnd.nextInt(size.activityRowsPerDay + 1))(zipfApp())
    }.toArray
  }
  /** Rendered rows per (user, day). */
  private val activity: Array[Array[Seq[String]]] = Array.tabulate(size.users) { u =>
    days.indices.map { d =>
      activityApps(u)(d).toSeq.map { a =>
        s"""{"user_id": "${userIds(u)}", "date": "${days(d)}", "application_id": "${appId(a)}", "duration": ${1 + rnd.nextInt(3600)}}"""
      }
    }.toArray
  }
  private val appJson: Array[String] = Array.tabulate(size.apps) { a =>
    val full = if (rnd.nextInt(10) == 0) "" else s"App ${appId(a)}"
    s"""{"application_id": "${appId(a)}", "full_name": "$full", "aditional_info": "Info ${appId(a)}", "app_name": "bin${appId(a)}", "category_id": ${rnd.nextInt(21)}}"""
  }

  // --------------------------------------------------------- static bodies
  private val tasksBody = taskParent.indices.map { i =>
    val parent = if (taskParent(i) < 0) "0" else taskId(taskParent(i))
    s""""${taskId(i)}": {"task_id": "${taskId(i)}", "parent_id": "$parent", "name": "Task ${taskId(i)}", "budgeted": ${budgeted(i)}, "users": {"u1": 1}, "perms": {"a": 1}}"""
  }.mkString("{", ",", "}")
  private val usersBody = userIds.map { u =>
    s"""{"user_id": "$u", "email": "u$u@example.com", "display_name": "User $u"}"""
  }.mkString("[", ",", "]")
  private val peoplePickerBody = {
    val groups = groupParent.indices.map { g =>
      val p = if (groupParent(g) < 0) "0" else s"g${groupParent(g)}"
      s""""g$g": {"group_id": "g$g", "parent_id": "$p", "name": "Group $g"}"""
    }
    val members = userIds.indices.map { u =>
      s""""u${userIds(u)}": {"user_id": "${userIds(u)}", "group_id": "g${userGroup(u)}"}"""
    }
    s"""{"groups": ${groups.mkString("{", ",", "}")}, "users": ${members.mkString("{", ",", "}")}}"""
  }

  // ------------------------------------------------------- expected output
  /** Rows each dataset must hold after the pipeline's transforms. */
  val expectedCounts: Map[String, Long] = {
    val enabledIdx = enabledUsers.map(userIndex)
    val appsSeen = enabledIdx.flatMap(u => activityApps(u).iterator.flatten).toSet
    Map(
      "entries" -> size.entries.toLong, "tasks" -> size.tasks.toLong,
      "users" -> size.users.toLong,
      "computer_activities" -> enabledIdx.map(u => activity(u).map(_.size).sum.toLong).sum,
      "application_names" -> appsSeen.size.toLong)
  }

  /** Tracked seconds per task over its whole subtree (entries dedup'd). */
  private val subtreeTracked: Array[Long] = {
    val acc = new Array[Long](size.tasks)
    entryTask.indices.foreach(e => acc(entryTask(e)) += entryDuration(e))
    // parents always precede children, so a reverse sweep rolls up
    (size.tasks - 1 to 0 by -1).foreach(i => if (taskParent(i) >= 0) acc(taskParent(i)) += acc(i))
    acc
  }
  private val subtreeBudget: Array[Long] = {
    val acc = budgeted.clone()
    (size.tasks - 1 to 0 by -1).foreach(i => if (taskParent(i) >= 0) acc(taskParent(i)) += acc(i))
    acc
  }
  /** BudgetReport: task_id -> (budgeted, tracked) for every budgeted task. */
  val expectedBudget: Map[String, (Long, Long)] = budgeted.indices.collect {
    case i if budgeted(i) > 0 => taskId(i) -> ((budgeted(i), subtreeTracked(i)))
  }.toMap
  /** ProjectBudgetReport: project_id -> (budget, cumulative) per root. */
  val expectedProjects: Map[String, (Long, Long)] = (0 until nRoots).map { i =>
    taskId(i) -> ((subtreeBudget(i), subtreeTracked(i)))
  }.toMap

  def budgets: Seq[(String, Long)] = budgeted.indices.map(i => taskId(i) -> budgeted(i))

  // ------------------------------------------------------------ transport
  val requests = new AtomicLong
  val throttled = new AtomicLong
  val bytesOut = new AtomicLong
  val recordsOut = new AtomicLong
  val serveNanos = new AtomicLong
  private val attempts = new ConcurrentHashMap[String, Integer]()

  /** Zero the counters and the per-request attempt memory (per pass). */
  def resetCounters(): Unit = {
    Seq(requests, throttled, bytesOut, recordsOut, serveNanos).foreach(_.set(0))
    attempts.clear()
  }

  /** A fixed ~2% of distinct requests are answered 429 with Retry-After: 0
    * on their first attempt; the choice hashes the request, not arrival
    * order, so it is the same in every pass.
    */
  private def throttles(key: String): Boolean = {
    val first = attempts.merge(key, 1, (a: Integer, b: Integer) => a + b) == 1
    first && Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key, seed.toInt), 1000) <
      size.throttledPerMille
  }

  val transport: TimeCampClient.Transport = (url, params) => {
    val t0 = System.nanoTime()
    requests.incrementAndGet()
    val key = url + params.toSeq.sorted.mkString("?", "&", "")
    val r =
      if (throttles(key)) {
        throttled.incrementAndGet()
        TimeCampClient.Response(429, "", retryAfterHeader = Some(0L))
      } else {
        val (body, records) = respond(url, params)
        recordsOut.addAndGet(records)
        TimeCampClient.Response(200, body)
      }
    bytesOut.addAndGet(r.body.length)
    serveNanos.addAndGet(System.nanoTime() - t0)
    r
  }

  private def respond(url: String, params: Map[String, String]): (String, Int) =
    url match {
      case "/entries" => entryBodies((params("from"), params("to")))
      case "/tasks" => (tasksBody, size.tasks)
      case "/users" => (usersBody, size.users)
      case "/people_picker" => (peoplePickerBody, 0)
      case u if u.startsWith("/user/") && u.endsWith("/setting") =>
        val ids = u.stripPrefix("/user/").stripSuffix("/setting").split(",")
        (ids.filter(disabled).map(id =>
          s"""{"userId": $id, "name": "disabled_user", "value": "1"}""")
          .mkString("[", ",", "]"), 0)
      case "/computer_activities" =>
        val u = userIndex(params("user_id"))
        val rows = params.collect { case (k, d) if k.startsWith("dates[") => d }
          .toSeq.sorted.flatMap(d => activity(u)(dayIndex(d)))
        (rows.mkString("[", ",", "]"), rows.size)
      case "/application" =>
        val rows = params("application_ids").split(",").map(id => appJson(id.toInt - 5000))
        (rows.mkString("[", ",", "]"), rows.length)
      case other => throw new IllegalArgumentException(s"unexpected endpoint $other")
    }
}
