package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.diff.{PrivilegeCheck => PC}

/** Round-20 de-share properties for the DM privilege checker: the
  * reference's privilege_test.go vectors (TestVerifyDumpPrivileges,
  * TestVerifyReplicationPrivileges, TestVerifyPrivilegesWildcard,
  * TestVerifyTargetPrivilege — 60+ cases) are PARSED OUT OF THE GO TEST
  * SOURCE and replayed through [[graft.diff.PrivilegeCheck]], asserting
  * the exact expected error renders; the required-privilege sets and
  * instruction/name strings the q308 oracle shares with the kernel are
  * parsed from privilege.go itself.
  */
class Round20Spec extends AnyFunSuite {

  private def slurp(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  private val privFile = "/root/reference/dm/pkg/checker/privilege.go"
  private val privTestFile = "/root/reference/dm/pkg/checker/privilege_test.go"

  private def assumeRef(): Unit =
    assume(Files.exists(Paths.get(privFile)), "reference checkout not present")

  private lazy val privSrc = slurp(privFile)
  private lazy val testSrc = slurp(privTestFile)

  // ------------------------------------------------ Go test-literal parser

  /** Unescape a Go interpreted string body (the escapes these fixtures
    * use: \" \\ \n \t). */
  private def unGo(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => b += '"'
          case '\\' => b += '\\'
          case 'n' => b += '\n'
          case 't' => b += '\t'
          case o => b += '\\'; b += o
        }
        i += 2
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** All "..."-literal bodies in order, honoring escapes. */
  private def goStrings(chunk: String): Seq[String] =
    """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(chunk)
      .map(m => unGo(m.group(1))).toSeq

  /** Top-level `{...}` chunks of a Go composite literal, skipping
    * strings and line comments (the fixture comments contain backticks
    * and commas that would desync a naive scan). */
  private def braceChunks(body: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = -1
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '"') {
        i += 1
        while (i < body.length && body.charAt(i) != '"') {
          if (body.charAt(i) == '\\') i += 1
          i += 1
        }
        i += 1
      } else if (c == '/' && i + 1 < body.length &&
          body.charAt(i + 1) == '/') {
        while (i < body.length && body.charAt(i) != '\n') i += 1
      } else {
        if (c == '{') {
          if (depth == 0) start = i
          depth += 1
        } else if (c == '}') {
          depth -= 1
          if (depth == 0 && start >= 0) {
            out += body.substring(start, i + 1); start = -1
          }
        }
        i += 1
      }
    }
    out.result()
  }

  private final case class GoCase(grants: Seq[String],
                                  checkTables: Seq[(String, String)],
                                  wholeInstance: Boolean,
                                  success: Boolean, errStr: String)

  /** Parse the `cases := []struct{...}{ ... }` vector table of one test
    * function into replayable cases. */
  private def parseCases(fnName: String): Seq[GoCase] = {
    val fnStart = testSrc.indexOf(s"func $fnName")
    assert(fnStart >= 0, s"$fnName not found in privilege_test.go")
    val fnEnd = testSrc.indexOf("\nfunc ", fnStart + 1) match {
      case -1 => testSrc.length
      case x => x
    }
    val body = testSrc.substring(fnStart, fnEnd)
    val listAt = body.indexOf("}{")
    assert(listAt >= 0, s"$fnName has no cases literal")
    // the list literal runs to the `}` that closes `}{`; braceChunks on
    // the slice after `}{` yields exactly the per-case entries (nested
    // grants/checkTables literals are inside each entry)
    val forAt = body.indexOf("\n\tfor ")
    val list = body.substring(listAt + 2, if (forAt > 0) forAt else body.length)
    braceChunks(list).map { chunk =>
      val grants =
        if ("""grants:\s+nil""".r.findFirstIn(chunk).isDefined) Nil
        else {
          val at = chunk.indexOf("[]string{")
          if (at < 0) Nil
          else goStrings(braceChunks(chunk.substring(at)).head)
        }
      val tables = {
        val at = chunk.indexOf("filter.Table{")
        if (at < 0) Nil
        else """\{Schema: "([^"]+)", Name: "([^"]+)"\}""".r
          .findAllMatchIn(chunk.substring(at))
          .map(m => (m.group(1), m.group(2))).toSeq
      }
      val whole = chunk.contains("dumpWholeInstance: true")
      val state = """(?:dumpState|replicationState|checkState):\s+State(\w+)""".r
        .findFirstMatchIn(chunk).map(_.group(1))
      assert(state.isDefined, s"no state in case chunk of $fnName")
      val err = """errStr:\s+"((?:[^"\\]|\\.)*)"""".r
        .findFirstMatchIn(chunk).map(m => unGo(m.group(1))).getOrElse("")
      GoCase(grants, tables, whole, state.get == "Success", err)
    }
  }

  private def replay(fnName: String, required: GoCase => PC.Lack): Unit = {
    val cases = parseCases(fnName)
    assert(cases.size >= 5, s"$fnName parsed only ${cases.size} cases")
    for ((cs, i) <- cases.zipWithIndex) {
      val got = PC.verifyWithResult(cs.grants, required(cs))
      if (cs.success)
        assert(got.isEmpty, s"$fnName case $i (${cs.grants}): got $got")
      else {
        assert(got.isDefined, s"$fnName case $i (${cs.grants}): expected " +
          s"'${cs.errStr}', got success")
        assert(got.get == cs.errStr,
          s"$fnName case $i: got '${got.get}' want '${cs.errStr}'")
      }
    }
  }

  // ------------------------------------------------------- vector replays

  test("TestVerifyDumpPrivileges vectors, replayed from source") {
    assumeRef()
    // the test's own required set: table-level SELECT + global RELOAD,
    // whole-instance flips SELECT to global (privilege_test.go:304-313)
    replay("TestVerifyDumpPrivileges", cs => {
      val base: PC.Lack = Map(
        PC.Select -> (if (cs.wholeInstance) PC.Priv(needGlobal = true)
                      else PC.Priv(dbs = PC.tableLevelPrivs(cs.checkTables))),
        PC.Reload -> PC.Priv(needGlobal = true))
      base
    })
    assert(parseCases("TestVerifyDumpPrivileges").size >= 25)
  }

  test("TestVerifyReplicationPrivileges vectors, replayed from source") {
    assumeRef()
    replay("TestVerifyReplicationPrivileges",
      _ => PC.ReplicationRequiredPrivs)
    assert(parseCases("TestVerifyReplicationPrivileges").size >= 15)
  }

  test("TestVerifyPrivilegesWildcard vectors, replayed from source") {
    assumeRef()
    replay("TestVerifyPrivilegesWildcard", cs =>
      Map(PC.Select -> PC.Priv(dbs = PC.tableLevelPrivs(cs.checkTables))))
    assert(parseCases("TestVerifyPrivilegesWildcard").size == 5)
  }

  test("TestVerifyTargetPrivilege vectors, required set parsed from test") {
    assumeRef()
    // the TEST replays with seven privileges (no Index) — parse its own
    // map literal rather than the checker's (privilege_test.go:690-698)
    val fnStart = testSrc.indexOf("func TestVerifyTargetPrivilege")
    val body = testSrc.substring(fnStart)
    val mapAt = body.indexOf("replRequiredPrivs := map")
    val names = """mysql\.(\w+)Priv:""".r
      .findAllMatchIn(body.substring(mapAt,
        body.indexOf("verifyPrivilegesWithResult", mapAt)))
      .map(_.group(1)).toSet
    val required = names.map(n => goPriv(n) -> PC.Priv(needGlobal = true)).toMap
    assert(names.size == 7 && !names.contains("Index"))
    replay("TestVerifyTargetPrivilege", _ => required)
  }

  private val goPriv: Map[String, PC.PrivT] = Map(
    "Create" -> PC.Create, "Select" -> PC.Select, "Insert" -> PC.Insert,
    "Update" -> PC.Update, "Delete" -> PC.Delete, "Alter" -> PC.Alter,
    "Drop" -> PC.Drop, "Index" -> PC.Index, "Reload" -> PC.Reload,
    "LockTables" -> PC.LockTables,
    "ReplicationSlave" -> PC.ReplicationSlave,
    "ReplicationClient" -> PC.ReplicationClient, "Super" -> PC.Super,
    "Grant" -> PC.Grant)

  // ------------------------------------- kernel constants vs privilege.go

  test("checker required-privilege sets, parsed from privilege.go") {
    assumeRef()
    // dump (privilege.go:95-111): SELECT always; the consistency switch
    // maps auto/flush → RELOAD and lock → LOCK TABLES
    val checkBody = privSrc.substring(
      privSrc.indexOf("func (pc *SourceDumpPrivilegeChecker) Check"),
      privSrc.indexOf("func (pc *SourceDumpPrivilegeChecker) Name"))
    assert(checkBody.contains(
      "dumpRequiredPrivs[mysql.SelectPriv] = priv{needGlobal: true}"))
    val armRe = """case ("[^:]+"):\s*\n\s*dumpRequiredPrivs\[mysql\.(\w+)Priv\]""".r
    val arms = armRe.findAllMatchIn(checkBody).map(m =>
      m.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .toSeq -> m.group(2)).toSeq
    assert(arms.nonEmpty, "consistency switch arms not parsed")
    for ((tokens, privName) <- arms; tok <- tokens) {
      val req = PC.dumpRequiredPrivs(Nil, tok, dumpWholeInstance = false)
      assert(req.get(goPriv(privName)).exists(_.needGlobal),
        s"consistency $tok must require $privName global")
    }
    // a consistency outside the switch adds nothing beyond SELECT
    assert(PC.dumpRequiredPrivs(Nil, "none", dumpWholeInstance = false)
      .keySet == Set(PC.Select))
    assert(PC.dumpRequiredPrivs(Nil, "auto", dumpWholeInstance = true)
      (PC.Select).needGlobal)
    assert(PC.dumpRequiredPrivs(Seq("db1" -> "tb1"), "auto",
      dumpWholeInstance = false)(PC.Select).dbs ==
      Map("db1" -> PC.DbPriv(tables =
        Map("tb1" -> PC.TablePriv(wholeTable = true)))))

    // replication (privilege.go:157-160) and target (:201-210) literals
    def mapPrivs(anchor: String): Set[String] = {
      val at = privSrc.indexOf(anchor)
      assert(at >= 0, s"$anchor not found")
      val end = privSrc.indexOf("verifyPrivilegesWithResult", at)
      """mysql\.(\w+)Priv:""".r
        .findAllMatchIn(privSrc.substring(at, end)).map(_.group(1)).toSet
    }
    val repl = mapPrivs(
      "func (pc *SourceReplicatePrivilegeChecker) Check")
    assert(repl.map(goPriv) == PC.ReplicationRequiredPrivs.keySet)
    val target = mapPrivs("func (t *TargetPrivilegeChecker) Check")
    assert(target.size == 8 && target.map(goPriv) ==
      PC.TargetRequiredPrivs.keySet)
  }

  test("checker names, instructions and render fragments, parsed") {
    assumeRef()
    def literalAfter(anchor: String): String = {
      val at = privSrc.indexOf(anchor)
      assert(at >= 0, s"$anchor not found")
      goStrings(privSrc.substring(at,
        math.min(privSrc.length, at + anchor.length + 120))).head
    }
    assert(PC.dumpPrivilegeCheck(Seq("GRANT SELECT ON *.* TO 'u'@'%'"),
      Nil, "none").name ==
      literalAfter("""func (pc *SourceDumpPrivilegeChecker) Name() string {
	return"""))
    // instruction strings: dump overrides, replication sets its own,
    // target keeps verifyPrivilegesWithResult's
    val dumpFail = PC.dumpPrivilegeCheck(Seq("GRANT USAGE ON *.* TO 'u'"),
      Seq("d" -> "t"))
    assert(dumpFail.state == PC.StateFailure)
    assert(privSrc.contains(
      s"""result.Instruction = "${dumpFail.instruction}""""))
    val replFail = PC.replicationPrivilegeCheck(
      Seq("GRANT USAGE ON *.* TO 'u'"))
    assert(privSrc.contains(
      s"""result.Instruction = "${replFail.instruction}""""))
    val targetFail = PC.targetPrivilegeCheck(
      Seq("GRANT USAGE ON *.* TO 'u'"))
    assert(targetFail.state == PC.StateWarning)
    assert(privSrc.contains(
      s"""result.Instruction = "${targetFail.instruction}""""))
    // the target checker's ERROR path (vs lacked) carries NO
    // instruction — verifyPrivilegesWithResult only sets it in the
    // lacked branch and TargetPrivilegeChecker never sets its own
    assert(PC.targetPrivilegeCheck(Nil).instruction == "")
    assert(PC.targetPrivilegeCheck(
      Seq("invalid SQL statement")).instruction == "")
    // LackedPrivilegesAsStr fragments (privilege.go:248-254)
    for (frag <- Seq("\"lack of \"", "\" global (*.*)\"", "\" privilege\""))
      assert(privSrc.contains(s"b.WriteString($frag)"), frag)
    // the no-grants sentinel (privilege.go:296)
    val sentinel = goStrings(privSrc.substring(
      privSrc.indexOf("if len(grants) == 0"))).head
    assert(PC.verifyWithResult(Nil, PC.ReplicationRequiredPrivs)
      .contains(sentinel))
  }

  test("conn-checker formulas, priv sets and renders, parsed from source") {
    assumeRef()
    import graft.diff.{ConnCheck => CC}
    val connSrc = slurp("/root/reference/dm/pkg/checker/conn_checker.go")
    // needed-connection formulas (conn_checker.go:163, :196)
    assert(connSrc.contains("stCfg.LoaderConfig.PoolSize + 1"))
    assert(connSrc.contains("return dumperThreads + 2"))
    // required privileges per checker
    val loaderBody = connSrc.substring(
      connSrc.indexOf("func (l *LoaderConnNumberChecker) Check"),
      connSrc.indexOf("func NewDumperConnNumberChecker"))
    assert(loaderBody.contains("mysql.SuperPriv: {needGlobal: true}"))
    val dumperBody = connSrc.substring(
      connSrc.indexOf("func (d *DumperConnNumberChecker) Check"))
    assert(dumperBody.contains("mysql.ProcessPriv: {needGlobal: true}"))
    // the error renders, parsed and re-instantiated: %d/%s substituted
    // in argument order
    def render(template: String, args: Any*): String = {
      var out = template
      args.foreach(a => out = out.replaceFirst("%[ds]", a.toString))
      out
    }
    def templateAfter(anchor: String): String = {
      val at = connSrc.indexOf(anchor)
      assert(at >= 0, s"$anchor not found")
      goStrings(connSrc.substring(at, at + 600))
        .find(_.contains("%d")).get
    }
    val exceeds = templateAfter("if neededConn > maxConn {")
    val tight = templateAfter("} else if maxConn-usedConn < neededConn {")
    val got = CC.dumperConnCheck(16,
      Seq("GRANT PROCESS ON *.* TO 'u'@'%'"), 5, 32)
    assert(got.errs.map(_._2) ==
      Seq(render(exceeds, 16, "dumper", 34)))
    val gotTight = CC.dumperConnCheck(40,
      Seq("GRANT PROCESS ON *.* TO 'u'@'%'"), 10, 32)
    assert(gotTight.errs.map(_._2) ==
      Seq(render(tight, 40, 9, 31, "dumper", 34)))
    // loader formula: pools [3,5] need (3+1)+(5+1) = 10
    val loader = CC.loaderConnCheck(8,
      Seq("GRANT SUPER ON *.* TO 'u'@'%'"), 1, Seq(3, 5))
    assert(loader.errs.head._2 == render(exceeds, 8, "loader", 10))
    // instruction strings + the lightning downgrade warn
    for (lit <- Seq(got.instruction, loader.instruction) ++
        loader.errs.lastOption.map(_._2))
      assert(connSrc.contains(s""""$lit""""), lit.take(40))
  }

  test("binlog do/ignore-db templates and precedence, parsed from source") {
    assumeRef()
    import graft.diff.{ConnCheck => CC}
    val binlogSrc = slurp("/root/reference/dm/pkg/checker/binlog.go")
    assert(binlogSrc.contains(
      "these dbs [%s] are not in binlog_do_db[%s]"))
    assert(binlogSrc.contains(
      "these dbs [%s] are in binlog_ignore_db[%s]"))
    val miss = CC.binlogDbCheck(Seq("db1", "db2"), "db1", "",
      caseSensitive = true)
    assert(binlogSrc.contains(s""""${miss.instruction}""""))
    val ign = CC.binlogDbCheck(Seq("db1"), "", "db0,db1",
      caseSensitive = true)
    assert(binlogSrc.contains(s""""${ign.instruction}""""))
    // do-db set wins: an ignore-db hit is IGNORED when any do-db is set
    assert(CC.binlogDbCheck(Seq("db1"), "db1", "db1",
      caseSensitive = true).state == "success")
    // the warn legs keep the Result's INITIAL StateFailure — the quirk
    // is in the source: state is only ever set to success at the end
    val checkBody = binlogSrc.substring(
      binlogSrc.indexOf("func (c *BinlogDBChecker) Check"),
      binlogSrc.indexOf("func (c *BinlogDBChecker) Name"))
    assert(checkBody.contains("State: StateFailure"))
    assert(!checkBody.contains("StateWarning"))
    assert(miss.state == "failure" &&
      miss.errs.forall(_._1 == "warning"))
  }

  test("lightning free-space ladder, parsed from lightning.go") {
    assumeRef()
    import graft.diff.{ConnCheck => CC}
    val lightSrc = slurp("/root/reference/dm/pkg/checker/lightning.go")
    // the safe-size rule: replicas × 2 headroom (lightning.go:196)
    assert(lightSrc.contains(
      "safeSize := uint64(c.sourceDataSize) * maxReplicas * 2"))
    val gib = 1024L * 1024 * 1024
    // render shapes parsed from source, re-instantiated via goBytesSize
    assert(lightSrc.contains(
      "Downstream doesn't have enough space, available is %s, but we need %s"))
    assert(lightSrc.contains(
      "Cluster may not have enough space, available is %s, but we need %s"))
    val fail = CC.freeSpaceCheck(Seq("4GiB", "2GiB"), 10 * gib, 3)
    assert(fail.errs.head._2 == "Downstream doesn't have enough space, " +
      "available is 6GiB, but we need 10GiB")
    val warn = CC.freeSpaceCheck(Seq("40GiB"), 10 * gib, 3)
    assert(warn.errs.head._2 == "Cluster may not have enough space, " +
      "available is 40GiB, but we need 60GiB")
    assert(lightSrc.contains(s""""${fail.instruction}""""))
    // go-units BytesSize / %.4g shape: trailing zeros trimmed, 4
    // significant digits, binary units
    assert(CC.goBytesSize(1536.0) == "1.5KiB")
    assert(CC.goBytesSize(1024.0 * 1024) == "1MiB")
    assert(CC.goBytesSize(1234.5 * 1024) == "1.206MiB")
    assert(CC.goBytesSize(1000) == "1000B")
    assert(CC.goBytesSize(0) == "0B")
  }

  test("privilege lattice vs brute-force leaf coverage, 300 random trials") {
    // independent twin: enumerate every required LEAF and decide
    // coverage directly from the grant statements — no shared code with
    // the kernel's fold (LIKE matching via regex translation here)
    val rnd = new scala.util.Random(308)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    def likeMatches(pattern: String, s: String): Boolean = {
      val sb = new StringBuilder
      var i = 0
      while (i < pattern.length) {
        val c = pattern.charAt(i)
        if (c == '\\' && i + 1 < pattern.length) {
          sb ++= java.util.regex.Pattern.quote(
            pattern.charAt(i + 1).toString); i += 2
        } else {
          if (c == '%') sb ++= ".*"
          else if (c == '_') sb ++= "."
          else sb ++= java.util.regex.Pattern.quote(c.toString)
          i += 1
        }
      }
      s.matches(sb.toString)
    }
    val privPool = Seq(PC.Select -> "SELECT", PC.Insert -> "INSERT",
      PC.Reload -> "RELOAD", PC.ReplicationClient -> "REPLICATION CLIENT",
      PC.LockTables -> "LOCK TABLES")
    val dbPool = Seq("db1", "db2", "db_x", "demo_foobar")
    for (trial <- 0 until 300) {
      // random required lattice
      val required: PC.Lack = privPool
        .filter(_ => rnd.nextBoolean()).map { case (p, _) =>
          if (rnd.nextBoolean()) p -> PC.Priv(needGlobal = true)
          else p -> PC.Priv(dbs = dbPool.filter(_ => rnd.nextBoolean())
            .map { db =>
              if (rnd.nextBoolean()) db -> PC.DbPriv(wholeDB = true)
              else db -> PC.DbPriv(tables = Seq("t1", "t2")
                .filter(_ => rnd.nextBoolean())
                .map(_ -> PC.TablePriv(wholeTable = true)).toMap)
            }.toMap)
        }.toMap
      // random grant set (grant-only; no columns, no wildickery beyond
      // db patterns)
      case class G(priv: String, level: Int, db: String, table: String)
      val grants = (0 until rnd.nextInt(5)).map { _ =>
        val p = pick(privPool.map(_._2) ++
          Seq("ALL PRIVILEGES", "SUPER", "FLUSH_TABLES", "USAGE"))
        pick(Seq(0, 1, 2)) match {
          case 0 => G(p, 0, "", "")
          case 1 => G(p, 1, pick(dbPool :+ "db\\_x" :+ "d%"), "")
          case 2 => G(p, 2, pick(dbPool), pick(Seq("t1", "t2")))
        }
      }
      val stmts = grants.map {
        case G(p, 0, _, _) => s"GRANT $p ON *.* TO 'u'@'%'"
        case G(p, 1, db, _) => s"GRANT $p ON `$db`.* TO 'u'@'%'"
        case G(p, 2, db, t) => s"GRANT $p ON `$db`.`$t` TO 'u'@'%'"
      }
      // brute force per-leaf coverage
      def privCovers(gp: String, p: PC.PrivT, global: Boolean): Boolean =
        gp == privPool.find(_._1 == p).map(_._2).getOrElse("?") ||
          gp == "ALL PRIVILEGES" ||
          (gp == "SUPER" && (global && p == PC.ReplicationClient)) ||
          (gp == "FLUSH_TABLES" && global && p == PC.Reload)
      def globalCovered(p: PC.PrivT): Boolean =
        grants.exists(g => g.level == 0 && privCovers(g.priv, p,
          global = true))
      def dbCovered(p: PC.PrivT, db: String): Boolean =
        globalCovered(p) || grants.exists(g => g.level == 1 &&
          privCovers(g.priv, p, global = false) && likeMatches(g.db, db))
      def tableCovered(p: PC.PrivT, db: String, t: String): Boolean =
        dbCovered(p, db) || grants.exists(g => g.level == 2 &&
          privCovers(g.priv, p, global = false) && g.db == db &&
          g.table == t)
      val expected: PC.Lack = required.flatMap { case (p, pr) =>
        if (pr.needGlobal) {
          if (globalCovered(p)) None else Some(p -> pr)
        } else {
          val dbs = pr.dbs.flatMap { case (db, dp) =>
            if (dp.wholeDB) {
              if (dbCovered(p, db)) None else Some(db -> dp)
            } else {
              val ts = dp.tables.filter { case (t, _) =>
                !tableCovered(p, db, t)
              }
              if (ts.isEmpty) None else Some(db -> dp.copy(tables = ts))
            }
          }
          if (dbs.isEmpty) None else Some(p -> pr.copy(dbs = dbs))
        }
      }
      if (stmts.nonEmpty) {
        val got = PC.verifyPrivileges(stmts, required)
        assert(got == Right(expected),
          s"trial $trial\n grants=$stmts\n required=$required")
        // revoke round-trip: revoking one granted GLOBAL statement then
        // re-granting it restores the original outcome. Global-only by
        // design: below global the reference's restore is deliberately
        // conservative (a table-level revoke under a wholeDB
        // requirement re-opens the WHOLE db, which re-granting the
        // table cannot close; SUPER's ReplicationClient equivalence
        // applies on revoke at any level but on grant only at global) —
        // those asymmetries are the reference's real semantics, pinned
        // by the replayed vectors above
        val revocable = grants.filter(_.level == 0)
        if (revocable.nonEmpty) {
          val g = pick(revocable)
          val (revoke, regrant) = g match {
            case G(p, 0, _, _) =>
              (s"REVOKE $p ON *.* FROM 'u'@'%'",
                s"GRANT $p ON *.* TO 'u'@'%'")
            case G(p, 1, db, _) =>
              (s"REVOKE $p ON `$db`.* FROM 'u'@'%'",
                s"GRANT $p ON `$db`.* TO 'u'@'%'")
            case G(p, _, db, t) =>
              (s"REVOKE $p ON `$db`.`$t` FROM 'u'@'%'",
                s"GRANT $p ON `$db`.`$t` TO 'u'@'%'")
          }
          val rt = PC.verifyPrivileges(stmts ++ Seq(revoke, regrant),
            required)
          assert(rt == Right(expected), s"trial $trial revoke round-trip")
        }
      }
    }
  }

  test("mysql_server/binlog checker vectors, replayed from source") {
    assumeRef()
    import graft.diff.{ConnCheck => CC, Precheck => P}
    val serverTest = slurp(
      "/root/reference/dm/pkg/checker/mysql_server_test.go")
    val binlogTest = slurp("/root/reference/dm/pkg/checker/binlog_test.go")
    // TestMysqlVersion's 16 (version, pass) vectors drive the q54
    // serverChecks version window
    val verBody = serverTest.substring(
      serverTest.indexOf("func TestMysqlVersion"),
      serverTest.indexOf("func TestVersionInstruction"))
    val verCases = """\{"([^"]+)", (true|false)\}""".r
      .findAllMatchIn(verBody)
      .map(m => m.group(1) -> m.group(2).toBoolean).toSeq
    assert(verCases.size >= 15)
    for ((v, pass) <- verCases) {
      val verdict = P.serverChecks("s", P.SourceMeta(version = v))
        .find(_.check_name == "mysql_version").get.verdict
      assert((verdict == "pass") == pass, s"version $v")
    }
    // TestBinlogDB's do/ignore/case vectors drive binlogDbCheck — the
    // expected StateFailure on warn legs confirms the kept quirk
    val dbBody = binlogTest.substring(
      binlogTest.indexOf("func TestBinlogDB"),
      binlogTest.indexOf("func TestMySQLBinlogRowImageChecker"))
    val listAt = dbBody.indexOf("}{")
    val forAt = dbBody.indexOf("\n\tfor ")
    val dbCases = braceChunks(dbBody.substring(listAt + 2, forAt))
    assert(dbCases.size == 10)
    for ((chunk, i) <- dbCases.zipWithIndex) {
      def field(k: String): String =
        (k + """:\s+"([^"]*)"""").r.findFirstMatchIn(chunk)
          .map(_.group(1)).getOrElse("")
      val schemas = """"(\w+)": \{\}""".r.findAllMatchIn(chunk)
        .map(_.group(1)).toSeq
      val caseSensitive = chunk.contains("caseSensitive: true")
      val state = """state:\s+State(\w+)""".r
        .findFirstMatchIn(chunk).get.group(1).toLowerCase
      val got = CC.binlogDbCheck(schemas, field("doDB"),
        field("ignoreDB"), caseSensitive)
      assert(got.state == state, s"binlogDB case $i")
      if (state == "failure") assert(got.errs.size == 1)
    }
    // TestMySQLBinlogRowImageChecker's version-gated vectors drive the
    // q54 row-image check
    val riBody = binlogTest.substring(
      binlogTest.indexOf("func TestMySQLBinlogRowImageChecker"))
    val riAt = riBody.indexOf("}{")
    val riFor = riBody.indexOf("\n\tfor ")
    val riCases = braceChunks(riBody.substring(riAt + 2, riFor))
    assert(riCases.size == 6)
    for ((chunk, i) <- riCases.zipWithIndex) {
      def field(k: String): String =
        (k + """:\s+"([^"]*)"""").r.findFirstMatchIn(chunk)
          .map(_.group(1)).getOrElse("")
      val state = """state:\s+State(\w+)""".r
        .findFirstMatchIn(chunk).get.group(1)
      val verdict = P.serverChecks("s", P.SourceMeta(
        version = field("version"),
        binlogRowImage = field("rowImage")))
        .find(_.check_name == "mysql_binlog_row_image").get.verdict
      assert(verdict == (if (state == "Success") "pass" else "fail"),
        s"rowImage case $i (${field("version")})")
    }
  }

  test("TestConnNumberChecker scenarios, replayed from source") {
    assumeRef()
    import graft.diff.{ConnCheck => CC}
    val src = slurp("/root/reference/dm/pkg/checker/conn_checker_test.go")
    // the four scenario parameters anchored in the test source:
    // loader pool 16 (needed 17), max_connections 16/17, processlist
    // 1 or 2 rows, ALL-vs-INDEX grants
    assert(src.contains("PoolSize: 16"))
    assert(src.contains("""AddRow("max_connections", 16)"""))
    assert(src.contains("""AddRow("max_connections", 17)"""))
    assert(src.contains("GRANT ALL PRIVILEGES ON *.* TO 'test'@'%'"))
    assert(src.contains("GRANT INDEX ON *.* TO 'test'@'%'"))
    val all = Seq("GRANT ALL PRIVILEGES ON *.* TO 'test'@'%'")
    val indexOnly = Seq("GRANT INDEX ON *.* TO 'test'@'%'")
    // 1: capacity failure downgraded for lightning — warning, 2 errors
    val r1 = CC.loaderConnCheck(16, all, 1, Seq(16))
    assert(r1.state == "warning" && r1.errs.size == 2)
    assert(r1.errs(0)._2.contains("is less than the number loader"))
    assert(r1.errs(1)._2.contains("task precheck cannot accurately " +
      "check the number of connection needed for Lightning"))
    // 2: exactly enough — success, no errors
    val r2 = CC.loaderConnCheck(17, all, 1, Seq(16))
    assert(r2.state == "success" && r2.errs.isEmpty)
    // 3: available < needed — warning, 1 error
    val r3 = CC.loaderConnCheck(17, all, 2, Seq(16))
    assert(r3.state == "warning" && r3.errs.size == 1)
    assert(r3.errs.head._2.contains("is less than loader needs"))
    // 4: no SUPER — privilege warn, usedConn pinned 0 keeps capacity ok
    val r4 = CC.loaderConnCheck(17, indexOnly, 1, Seq(16))
    assert(r4.state == "warning" && r4.errs.size == 1)
    assert(r4.errs.head._2.contains("lack of Super global"))
    // primary_key.go's strings + TestPrimaryKeyChecker's pinned render,
    // replayed from the test source
    val pkTest = slurp("/root/reference/dm/pkg/checker/primary_key_test.go")
    val pkRender = """Contains\(t, res.Errors\[0\].ShortErr, "([^"]+)"\)""".r
      .findFirstMatchIn(pkTest).get.group(1)
    val pkFail = CC.primaryKeyCheck(
      Seq(("test-db", "test-table-1", Some(false))))
    assert(pkFail.errs.head._2 == pkRender)
    val pkSrc = slurp("/root/reference/dm/pkg/checker/primary_key.go")
    assert(pkSrc.contains(s""""${pkFail.instruction}""""))
    assert(pkSrc.contains(s"""return "${pkFail.name}""""))
    // the deleted-table race skips silently (primary_key.go ErrNoSuchTable)
    assert(CC.primaryKeyCheck(Seq(("d", "gone", None))).state == "success")
    // onlineddl.go's strings, parsed from source
    val oddlSrc = slurp("/root/reference/dm/pkg/checker/onlineddl.go")
    val ghost = CC.onlineDdlCheck(Seq("db1" -> Seq("_users_gho")),
      Seq(graft.streaming.SubTaskValidate.DefaultShadowTableRules),
      (_, _) => true)
    assert(oddlSrc.contains(s"""NewError("${ghost.errs.head._2}")"""))
    assert(oddlSrc.contains(s""""${ghost.instruction}""""))
    assert(oddlSrc.contains(s"""return "${ghost.name}""""))
  }

  test("checker dispatch: mode sets, item vocabulary and gate order, parsed") {
    assumeRef()
    import graft.diff.{CheckerDispatch => CD}
    val helperSrc = slurp("/root/reference/dm/config/helper.go")
    val subtaskSrc2 = slurp("/root/reference/dm/config/subtask.go")
    val checkingSrc = slurp("/root/reference/dm/config/checking_item.go")
    val checkerSrc = slurp("/root/reference/dm/checker/checker.go")
    // mode tokens (ModeX = "token", subtask.go) drive the parsed
    // HasDump/HasLoad/HasSync case arms
    val modeTok = """(Mode\w+)\s+= "([\w&]+)"""".r
      .findAllMatchIn(subtaskSrc2).map(m => m.group(1) -> m.group(2)).toMap
    def modeSet(fn: String): Set[String] = {
      val body = helperSrc.substring(helperSrc.indexOf(s"func $fn"))
      """case ((?:Mode\w+(?:, )?)+):""".r.findFirstMatchIn(body)
        .get.group(1).split(", ").map(modeTok).toSet
    }
    val allModes = modeTok.values.toSet + "nonsense"
    for (m <- allModes) {
      assert(CD.hasDump(m) == modeSet("HasDump")(m), s"hasDump $m")
      assert(CD.hasLoad(m) == modeSet("HasLoad")(m), s"hasLoad $m")
      assert(CD.hasSync(m) == modeSet("HasSync")(m), s"hasSync $m")
    }
    // checking-item vocabulary: AllCheckingItems map keys − "all"
    val itemTok = """(\w+Checking)\s+= "(\w+)"""".r
      .findAllMatchIn(checkingSrc).map(m => m.group(1) -> m.group(2)).toMap
    val allMapBlock = checkingSrc.substring(
      checkingSrc.indexOf("var AllCheckingItems"),
      checkingSrc.indexOf("// LightningPrechecks"))
    val mapKeys = """\t(\w+Checking):""".r.findAllMatchIn(allMapBlock)
      .map(m => itemTok(m.group(1))).toSet
    assert(CD.DefaultItems == mapKeys - "all")
    // filter semantics
    assert(CD.filterCheckingItems(Seq("all")).isEmpty)
    assert(CD.filterCheckingItems(Seq("version")) ==
      CD.DefaultItems - "version")
    // LightningPrechecks order from the list literal
    val lpBlock = checkingSrc.substring(
      checkingSrc.indexOf("var LightningPrechecks"),
      checkingSrc.indexOf("}", checkingSrc.indexOf("var LightningPrechecks")))
    val lpOrder = """\t(Lightning\w+Checking),""".r
      .findAllMatchIn(lpBlock).map(m => itemTok(m.group(1))).toSeq
    assert(lpOrder == CD.LightningPrechecks)
    // Init's gate order: the sequence of checkingItems[config.X] probes
    // must order the kernel's all-items single-instance output
    val initBody = checkerSrc.substring(
      checkerSrc.indexOf("func (c *Checker) Init"),
      checkerSrc.indexOf("func (c *Checker) displayCheckingItems"))
    val gateOrder = """checkingItems\[config\.(\w+Checking)\]""".r
      .findAllMatchIn(initBody).map(m => itemTok(m.group(1))).toSeq.distinct
    val nameToItem = Map(
      "dumper_conn_number_checker" -> "conn_number",
      "loader_conn_number_checker" -> "conn_number",
      "target db privilege checker" -> "target_privilege",
      "mysql_version" -> "version",
      "source db dump privilege checker" -> "dump_privilege",
      "meta position check" -> "meta_position",
      "mysql_server_id" -> "server_id",
      "mysql_binlog_enable" -> "binlog_enable",
      "mysql_binlog_format" -> "binlog_format",
      "mysql_binlog_row_image" -> "binlog_row_image",
      "source db replication privilege checker" -> "replication_privilege",
      "online ddl checker" -> "online_ddl",
      "binlog_do_db/binlog_ignore_db check" -> "binlog_db",
      "table structure compatibility check" -> "table_schema",
      "primary key existence check" -> "primary_key")
    val out = CD.checkList(CD.DispatchSpec(
      CD.filterCheckingItems(Nil) + "primary_key",
      Seq(CD.InstanceSpec("s1", "all", onlineDDL = true))))
    val itemSeq = out.map(_._1).map(nameToItem).distinct
    // every emitted family appears, in Init's own probe order
    assert(itemSeq == gateOrder.filter(itemSeq.toSet), s"order: $itemSeq")
    // the lazy-plugin quirk in source: the plugin init precedes the
    // sync block within the SAME instance iteration
    assert(initBody.indexOf("instance.cfg.OnlineDDL && c.onlineDDL == nil") <
      initBody.indexOf("config.HasSync(instance.cfg.Mode)"))
  }

  test("Debezium DDL action classifier, parsed from codec.go") {
    assumeRef()
    import graft.functions.{DebeziumEnvelope => DE}
    val src = slurp("/root/reference/pkg/sink/codec/debezium/codec.go")
    val fn = src.substring(
      src.indexOf("func (c *dbzCodec) EncodeDDLEvent"),
      src.indexOf("// message key"))
    val armRe =
      """(?s)case ((?:\s*timodel\.Action\w+,?)+):\s*changeType = "(\w+)"""".r
    var checked = 0
    for (m <- armRe.findAllMatchIn(fn);
         a <- """Action(\w+)""".r.findAllMatchIn(m.group(1))
           .map(_.group(1))) {
      assert(DE.ddlChangeType(a) == Right(m.group(2)),
        s"$a should classify ${m.group(2)}")
      checked += 1
    }
    assert(checked >= 30, s"only $checked action arms parsed")
    // the default arm is the unsupported-DDL terror
    assert(fn.contains("ErrDDLUnsupportType"))
    assert(DE.ddlChangeType("AddForeignKey") ==
      Left("ErrDDLUnsupportType"))
  }

  test("decoder Go-render edges: time strings, durations, bit buffers") {
    import graft.functions.{DebeziumEnvelope => DE}
    // Go time.Time.String() trims trailing fraction zeros
    assert(DE.goUtcString(1640995200000000L) ==
      "2022-01-01 00:00:00 +0000 UTC")
    assert(DE.goUtcString(1640995200123450L) ==
      "2022-01-01 00:00:00.12345 +0000 UTC")
    assert(DE.goUtcString(1640995200100000L) ==
      "2022-01-01 00:00:00.1 +0000 UTC")
    // pre-epoch (negative micros) renders the earlier date
    assert(DE.goUtcString(-86400000000L) ==
      "1969-12-31 00:00:00 +0000 UTC")
    // types.Duration at MaxFsp always carries six digits; sign leads
    assert(DE.goDurationString(36610000005L) == "10:10:10.000005")
    assert(DE.goDurationString(-3600000000L) == "-01:00:00.000000")
    // tidb_type parse-back: unsigned/binary flag strips
    assert(DE.parseTidbType("int unsigned") == (("long", true, false)))
    assert(DE.parseTidbType("varbinary") == (("varchar", false, true)))
    assert(DE.parseTidbType("text") == (("blob", false, false)))
    assert(DE.parseTidbType("blob") == (("blob", false, true)))
    // size variants the reference encoder emits via types.TypeToStr
    assert(DE.parseTidbType("longblob") == (("blob", false, true)))
    assert(DE.parseTidbType("tinyblob") == (("blob", false, true)))
    assert(DE.parseTidbType("mediumtext") == (("blob", false, false)))
    // TestGetSchemaTopicName, replayed from source: leading digit keeps
    // the digit after the replacement char, '.' sanitizes in names but
    // survives in topic names, non-ASCII letters replace in topics
    // absent reference checkout: the replay is skipped, the rest runs
    val helperTest = Some(
      "/root/reference/pkg/sink/codec/debezium/helper_test.go")
      .filter(p => Files.exists(Paths.get(p))).map(slurp).getOrElse("")
    val fnAt = helperTest.indexOf("func TestGetSchemaTopicName")
    if (fnAt >= 0) {
      val body = helperTest.substring(fnAt)
      def lit(k: String): String =
        (k + """ := "([^"]+)"""").r.findFirstMatchIn(body).get.group(1)
      val expected = """name, "([^"]+)"""".r
        .findFirstMatchIn(body).get.group(1)
      assert(DE.schemaTopicName(lit("namespace"), lit("schema"),
        lit("table")) == expected)
    }
  }

  test("debezium encode→decode fixpoint over 200 random typed rows") {
    import graft.functions.{DebeziumEnvelope => DE}
    import graft.functions.DebeziumFields.FieldSpec
    val rnd = new scala.util.Random(20)
    def pad2(n: Int) = f"$n%02d"
    for (trial <- 0 until 200) {
      // one random column per family, values drawn in-range so the
      // decode render can be derived INDEPENDENTLY of the kernel
      val intV = rnd.nextInt(1 << 16) - (1 << 15)
      val utinyV = rnd.nextInt(256)
      val strV = "s" + rnd.alphanumeric.take(rnd.nextInt(8)).mkString
      val binV = rnd.alphanumeric.take(3).mkString
      val day = java.time.LocalDate.of(2000 + rnd.nextInt(60),
        1 + rnd.nextInt(12), 1 + rnd.nextInt(28))
      val h = rnd.nextInt(24); val mi = rnd.nextInt(60)
      val se = rnd.nextInt(60)
      val dtV = s"$day $h:$mi:$se".replaceAll(" (\\d):", " 0$1:")
      val dtRaw = f"$day $h%02d:$mi%02d:$se%02d"
      val bitV = rnd.nextInt(1 << 16)
      val yearV = 1990 + rnd.nextInt(40)
      val cols = Seq(
        FieldSpec("pk", "long", notNull = true) ->
          Some(intV.toString),
        FieldSpec("ut", "tiny", unsigned = true) ->
          Some(utinyV.toString),
        FieldSpec("st", "varchar", flen = 20) -> Some(strV),
        FieldSpec("bi", "varchar", flen = 20, binary = true,
          charset = "binary") -> Some(binV),
        FieldSpec("dt", "date") -> Some(day.toString),
        FieldSpec("ts6", "datetime", fsp = 6) ->
          Some(dtRaw + ".250000"),
        FieldSpec("tm", "time", fsp = 0) ->
          Some(f"$h%02d:$mi%02d:$se%02d"),
        FieldSpec("b16", "bit", flen = 16) -> Some(bitV.toString),
        FieldSpec("yr", "year") -> Some(yearV.toString))
      val key = DE.rowKey("c1", "d1", "t1",
        cols.filter(_._1.notNull), ext = true)
      val value = DE.rowValue("c1", 42L, 0L, "d1", "t1", "c", cols,
        ext = true)
      val decoded = DE.rowEventOf(key, value).after.map {
        case (n, v, _) => n -> v
      }.toMap
      // independent expected renders
      assert(decoded("pk") == intV.toString, s"trial $trial pk")
      assert(decoded("ut") == utinyV.toString)
      assert(decoded("st") == strV)
      assert(decoded("bi") == "0x" +
        binV.getBytes("UTF-8").map(b => f"$b%02x").mkString)
      assert(decoded("dt") == s"$day 00:00:00 +0000 UTC")
      assert(decoded("ts6") ==
        f"$day $h%02d:$mi%02d:$se%02d.25 +0000 UTC", s"trial $trial dt")
      assert(decoded("tm") == f"$h%02d:$mi%02d:$se%02d.000000")
      assert(decoded("b16") == bitV.toString)
      assert(decoded("yr") == yearV.toString)
    }
  }

  test("TaskConverters openapi round-trip fixpoint over 100 random tasks") {
    import graft.streaming.{TaskConverters => CV}
    import graft.streaming.{SubTaskValidate => STV}
    val rnd = new scala.util.Random(2020)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    var converted = 0
    for (trial <- 0 until 100) {
      val nSources = 1 + rnd.nextInt(3)
      val sourceNames = (0 until nSources).map(i => s"s$i")
      val sources = sourceNames.map(n =>
        n -> STV.SourceCfgModel(sourceId = n,
          caseSensitive = rnd.nextBoolean())).toMap
      val filterRules =
        if (rnd.nextBoolean())
          Map(s"fr$trial" -> CV.BinlogFilterRule(
            Seq(pick(Seq("delete", "insert", "update"))), Seq("^DROP")))
        else Map.empty[String, CV.BinlogFilterRule]
      // filter references only on sources with EXACTLY ONE migrate
      // rule: the reference's stamping is per (rule × reference) and
      // its re-export attaches every stamped name to every rule of the
      // source (task_converters.go:301-311 + :635-640), so a source
      // with 2 filtered rules GROWS templates on every round trip —
      // pinned as a quirk below; the fixpoint class excludes it
      val ruleCounts = sourceNames.map(_ -> (1 + rnd.nextInt(2))).toMap
      val migrate = sourceNames.flatMap { sn =>
        (0 until ruleCounts(sn)).map { i =>
          CV.MigrateRule(sn, s"db$i",
            if (rnd.nextBoolean()) s"t$i" else "",
            if (rnd.nextBoolean())
              Some(CV.MigrateRuleTarget(Some("dst"),
                if (rnd.nextBoolean()) Some(s"t$i") else None))
            else None,
            binlogFilterRules =
              if (ruleCounts(sn) == 1) filterRules.keys.toSeq else Nil)
        }
      }
      val task = CV.OpenApiTask(
        name = s"mig$trial",
        taskMode = pick(Seq("all", "full", "incremental")),
        shardMode =
          if (rnd.nextBoolean()) Some(pick(Seq("pessimistic",
            "optimistic"))) else None,
        metaSchema = "dm_meta",
        enhanceOnlineSchemaChange = rnd.nextBoolean(),
        sourceConf = sourceNames.map(n => CV.SourceConf(n)),
        fullConf = Some(CV.FullMigrateConf(
          exportThreads = Some(4), importThreads = Some(16),
          dataDir = Some("./exported_data"),
          consistency = Some(pick(Seq("auto", "none"))))),
        incrConf = Some(CV.IncrMigrateConf(
          replThreads = Some(16), replBatch = Some(100))),
        migrateRules = migrate,
        binlogFilterRules = filterRules)
      CV.openApiTaskToSubTasks(task, sources) match {
        case Left(e) => fail(s"trial $trial rejected: $e")
        case Right(subTasks) =>
          converted += 1
          val back = CV.subTasksToOpenApiTask(subTasks)
          // the reference re-runs the converters on the re-exported
          // task (openapi GET → edit → POST); the second pass must be
          // a FIXPOINT
          CV.openApiTaskToSubTasks(back, sources) match {
            case Left(e) => fail(s"trial $trial round-2 rejected: $e")
            case Right(subTasks2) =>
              val back2 = CV.subTasksToOpenApiTask(subTasks2)
              assert(back2 == back, s"trial $trial not a fixpoint")
          }
      }
    }
    assert(converted == 100)
    // the excluded class, pinned: a source with TWO filtered migrate
    // rules doubles its stamped templates on re-export — the
    // reference's real divergence, faithfully reproduced
    val fr = Map("fr" -> CV.BinlogFilterRule(Seq("delete"), Seq("^DROP")))
    val twoRules = CV.OpenApiTask(name = "t", taskMode = "all",
      sourceConf = Seq(CV.SourceConf("s0")),
      migrateRules = Seq(
        CV.MigrateRule("s0", "db0", "", binlogFilterRules = Seq("fr")),
        CV.MigrateRule("s0", "db1", "", binlogFilterRules = Seq("fr"))),
      binlogFilterRules = fr)
    val srcs = Map("s0" -> STV.SourceCfgModel(sourceId = "s0"))
    val b1 = CV.subTasksToOpenApiTask(
      CV.openApiTaskToSubTasks(twoRules, srcs).toOption.get)
    val b2 = CV.subTasksToOpenApiTask(
      CV.openApiTaskToSubTasks(b1, srcs).toOption.get)
    assert(b1.binlogFilterRules.size == 2 &&
      b2.binlogFilterRules.size == 4)
  }

  test("trimAdminOption and role discovery match the shown-grant tests") {
    // TestTrimAdminOption's Unicode case: suffix matching is ASCII-fold,
    // the role name's İ must survive untouched
    assert(PC.trimAdminOption(
      "GRANT `admİN`@`%` TO `dmtest`@`%` WITH ADMIN OPTION") ==
      "GRANT `admİN`@`%` TO `dmtest`@`%`")
    assert(PC.trimAdminOption("GRANT SELECT ON *.* TO `dmtest`@`%`") ==
      "GRANT SELECT ON *.* TO `dmtest`@`%`")
    // TestShowGrantsWithMultipleRoles: the USING query assembled from
    // discovered roles
    val roles = PC.discoverRoles(Seq(
      "GRANT `r1`@`%`,`r2`@`%` TO `dmtest`@`%` WITH ADMIN OPTION"))
    assert(PC.usingQuery("SHOW GRANTS FOR CURRENT_USER", roles) ==
      "SHOW GRANTS FOR CURRENT_USER USING `r1`@`%`, `r2`@`%`")
    // TestShowGrantsIgnoresUnparseableGrantForRoleDiscovery: a MariaDB
    // grant contributes no roles and kills nothing
    assert(PC.discoverRoles(Seq(
      "GRANT BINLOG MONITOR ON *.* TO `dmtest`@`%`",
      "GRANT SELECT ON *.* TO `dmtest`@`%`")).isEmpty)
    // the IDENTIFIED BY PASSWORD rewrites (privilege.go:660-670)
    assert(PC.normalizeShownGrant(
      "GRANT ALL ON *.* TO 'u'@'%' IDENTIFIED BY PASSWORD <secret>") ==
      "GRANT ALL ON *.* TO 'u'@'%' IDENTIFIED BY PASSWORD 'secret'")
    assert(PC.normalizeShownGrant(
      "GRANT ALL ON *.* TO 'u'@'%' IDENTIFIED BY PASSWORD WITH GRANT OPTION")
      == "GRANT ALL ON *.* TO 'u'@'%' IDENTIFIED BY PASSWORD 'secret' " +
        "WITH GRANT OPTION")
    assert(PC.normalizeShownGrant(
      "GRANT ALL ON *.* TO 'u'@'%' IDENTIFIED BY PASSWORD") ==
      "GRANT ALL ON *.* TO 'u'@'%' IDENTIFIED BY PASSWORD 'secret'")
  }
}
