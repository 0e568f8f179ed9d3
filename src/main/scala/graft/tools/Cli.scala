package graft.tools

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.TripleStore
import graft.model.AttrSchema
import graft.query._
import graft.sources.{DocIngest, JsonSource}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max}
import scala.jdk.CollectionConverters._

/** The `tripl` CLI surface (cli.py:72-115) on the Spark engine:
  *
  *   graft.tools.Cli join -i in.json ... [-s SCHEMA] [-I id,attrs]
  *                        [-m CMD] [-n NS] -o out
  *   graft.tools.Cli pull -i in.json ... [-p PULL_EXPR]
  *                        (-e ENTITY_PATTERN | -E eid,eid,...) -o out
  *   graft.tools.Cli datalog -i in.json ... -q QUERY -o out
  *   graft.tools.Cli count -i in.json ... -e ENTITY_PATTERN
  *                        [--table vidx] -o out
  *   graft.tools.Cli sum -i in.json ... -e ENTITY_PATTERN --cols ATTR
  *                        [--table vidx] -o out
  *   graft.tools.Cli percentile -i in.json ... --cols ATTR
  *                        [--qs 0.5,0.9,0.99] [-e ENTITY_PATTERN]
  *                        [--table vidx] -o out
  *   graft.tools.Cli {min|max|avg} -i in.json ... -e ENTITY_PATTERN
  *                        --cols ATTR [--table vidx] -o out
  *
  * `count` emits the number of entities matching `-e` as one
  * {"count": N} row — the curation "how many pass this gate" question
  * without materializing the match; with `--table` naming a registered
  * ValueIndex covering the store's attrs, a single-range pattern counts
  * inner buckets from the zone-map manifest with zero data rows read
  * (TripleStore.countMatch; any decline is the exact fallback count).
  * `sum` is its LONG-attr sibling ({"sum": N}, TripleStore.sumMatch):
  * `--cols` names the summed attr, and a single-range pattern on that
  * attr reads the manifest's materialized per-bucket sums.
  * `percentile` emits exact nearest-rank percentiles of `--cols` at
  * each `--qs` (one {q, value} row per q, ALL qs served by one pass);
  * on an indexed store each rank is manifest-located and only its
  * bucket scans (TripleStore.percentileValues). NOTE the rank is
  * ⌈q·N⌉ nearest-rank over the EAV fact universe; the tabular
  * `quantiles`/`stats` verbs use the SQL-oracle Type-1 ⌊(N−1)·q⌋+1
  * definition — on small N the two can differ by one position.
  *
  * `join` ingests the inputs (optionally mapping each line through an
  * external command, cli.py:20-23) and dumps the store as EAV JSON lines;
  * `pull` ingests and pulls. JSON argument shapes match the reference's
  * python API: pull exprs are arrays of attrs / "*" / "ns:_attr" /
  * {attr: subexpr} / {attr: "..."}; entity patterns are conjunctive
  * {attr: scalar | [in-list] | {sub-pattern} | {range}} maps, where a
  * range object holds only $gt/$gte/$lt/$lte keys (engine extension —
  * served from the ValueIndex zone map when the attr is indexed).
  * Output is JSON LINES
  * (one doc per line) rather than one indented array — the distributed
  * rendering of the same data; `-o -` collects to stdout (driver-side,
  * interactive convenience like the reference's /dev/stdout default).
  * `-P/--processes` is accepted-and-ignored: executor parallelism comes
  * from the Spark master, not a process pool.
  *
  * `datalog` runs the reference's PLANNED query-dict grammar
  * (tripl.py:571-584) end-to-end: `{'find': [vars], 'where': [[s a o]...],
  * 'rules': [[[pred ?s ?o] [s a o]...]...], 'take': N, 'sort': var}` —
  * rule heads are [predicate, subject-var, object-var] exactly as the
  * grammar comment writes them; rule body literals may be negated as
  * `{"not": [s a o]}` (stratified); `sort` names a find variable (leading
  * '?' optional) and `sort`+`take` lower to TakeOrderedAndProject.
  * Output columns are the find variables minus the '?'.
  *
  * Pipeline verbs (`dedup`, `sample`, `chunk`, `pack`, `scrub`) drive the
  * training-data operators over tabular input (JSON lines or parquet,
  * `--format` or inferred) — the reference's own CLI precedent
  * (cli.py:101-108) that every engine capability gets a shell surface:
  *
  *   Cli dedup  -i docs.parquet --id doc_id --text text -o out
  *   Cli sample -i docs.parquet --id doc_id --buckets 32 -o out
  *   Cli chunk  -i docs.parquet --size 16 --stride 8 -o out
  *   Cli pack   -i docs.parquet --capacity 256 [--by source] -o out
  *   Cli scrub  -i docs.parquet --id doc_id --text text -o out
  *   Cli split  -i docs.parquet --group source --folds train:192,val:32,test:32 -o out
  *   Cli stats  -i docs.parquet --group source --text text --pcts 50,90,99 -o out
  *   Cli indexbuild  -i corpus.parquet --table idx --index-path /data/idx -o receipt
  *   Cli indexappend -i batch.parquet  --table idx -o receipt
  *   Cli indexdedup  -i batch.parquet  --table idx --threshold 0.5 -o pairs
  *   Cli indexingest -i batch.parquet  --table idx --matches /data/m \
  *                   --batch-id 7 [--no-intra-batch] -o receipt
  *   Cli indexcompact --table idx --index-path /data/idx2 [--vacuum] -o receipt
  *   Cli vidxbuild   -i corpus.parquet --table vidx --index-path /data/v \
  *                   --cols n_chars[,n_words] [--buckets 64] -o receipt
  *   Cli vidxappend  -i batch.parquet --table vidx -o receipt
  *   Cli vidxcompact --table vidx --index-path /data/v2 [--vacuum] -o receipt
  *   Cli vidxstats   --table vidx -o health   (frag = rows/buckets)
  *   Cli vidxmigrate --table vidx -o receipt  (legacy TABLE → views)
  *   Cli score -i docs.parquet --lexicon spark:5,the:-1 -o scored
  *   Cli spandedup -i docs.parquet --ngram 8 [--spans-only] -o clean
  *   Cli decontam  -i train.parquet --test test.parquet [--spans-only] -o clean
  *   Cli shuffle   -i docs.parquet --seed 42 -o ordered
  *   Cli semdedup  -i embs.parquet --id vec_id --vec embedding \
  *                 --clusters 16 --threshold 0.9 [--iters 0] -o survivors
  */
object Cli {
  private val mapper = new ObjectMapper()

  private case class Args(
      sub: String,
      inputs: Seq[String] = Nil,
      output: String = "-",
      schema: Option[String] = None,
      idAttrs: Seq[String] = Nil,
      mapCommand: Option[String] = None,
      ns: String = "tripl",
      pullExpr: String = """["*"]""",
      entityPattern: Option[String] = None,
      entities: Option[Seq[String]] = None,
      query: Option[String] = None,
      format: Option[String] = None,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkSize: Int = 16,
      stride: Int = 8,
      capacity: Int = 256,
      packBy: Option[String] = None,
      buckets: Option[Int] = None,
      lo: Int = 0,
      hi: Int = 256,
      groupCol: String = "source",
      folds: String = "train:192,val:32,test:32",
      pcts: Seq[Int] = Seq(50, 90, 99),
      table: Option[String] = None,
      indexPath: Option[String] = None,
      matchesDir: Option[String] = None,
      batchId: Long = 0L,
      doVacuum: Boolean = false,
      intraBatch: Boolean = true,
      lexicon: Option[String] = None,
      threshold: Double = 0.5,
      hashes: Int = 32,
      bands: Int = 16,
      rowsPerBand: Int = 2,
      ngram: Int = 8,
      seed: Long = 42L,
      clusters: Int = 16,
      iters: Int = 3,
      spansOnly: Boolean = false,
      vecCol: String = "embedding",
      testInput: Option[String] = None,
      gates: Option[String] = None,
      keepRows: Boolean = false,
      topK: Int = 20,
      summaryM: Int = 4096,
      minCount: Long = 2L,
      scoreCol: Option[String] = None,
      bins: Int = 4,
      kmvK: Int = 256,
      fracs: String = "train:0.8,val:0.1,test:0.1",
      merges: Int = 3,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.9, 0.99),
      tsCol: String = "ts",
      valCol: String = "value",
      stepSeconds: Long = 3600L,
      cols: Seq[String] = Nil,
      funnelSteps: Seq[String] = Nil,
      windowSeconds: Long = 86400L)

  private val TripleSubs =
    Seq("join", "pull", "datalog", "count", "sum", "percentile",
      "min", "max", "avg")
  private val PipelineSubs =
    Seq("dedup", "sample", "chunk", "pack", "scrub", "split", "stats",
      "indexbuild", "indexappend", "indexdedup", "indexingest",
      "indexcompact", "vidxbuild", "vidxappend", "vidxcompact",
      "vidxmigrate", "vidxstats",
      "score", "spandedup", "shuffle", "semdedup",
      "decontam", "funnel", "hitters", "mix", "drift", "lmscore",
      "curriculum", "kmv", "stratsplit", "quantiles", "bpelearn",
      "gapfill", "leakage", "card", "containment", "conversion",
      "diff", "groupsample", "cardsketch", "cardmerge", "linededup",
      "plot", "gramfrac")

  private def parseArgs(argv: Array[String]): Args = {
    require(argv.nonEmpty && (TripleSubs ++ PipelineSubs).contains(argv(0)),
      "usage: Cli {join|pull|datalog|count|sum} -i inputs... [-p expr] " +
        "[-e pattern | -E ids] [-q query] [--table vidx] " +
        "[--cols sum-attr] -o out\n" +
        "   or: Cli {dedup|sample|chunk|pack|scrub|split|...} -i inputs... " +
        "[--format json|parquet] [--id COL] [--text COL] " +
        "[--size N --stride N | --capacity N [--by COL] | " +
        "--buckets N | --lo A --hi B | " +
        "--group COL --folds name:width,...] -o out\n" +
        "analysis: funnel|hitters|mix|drift|lmscore|curriculum|score\n" +
        "sketch/stats: kmv --k N | card [--cols a,b] | quantiles --qs ... | " +
        "stratsplit --fracs name:f,... | gapfill --ts-col C --val-col C\n" +
        "dedup extras: containment --threshold T | leakage --group FOLD | " +
        "bpelearn --merges N\n" +
        "ops: diff --test V2 [--cols a,b] | groupsample --group COL --top N" +
        " | linededup | cardsketch [--cols a,b] | cardmerge -i card1 card2" +
        " | plot [--score-col C] [--bins N] | gramfrac [--ngram N] [--keep]")
    var a = Args(argv(0))
    var i = 1
    def isFlag(s: String) = s.startsWith("-") && s.length > 1
    def value(flag: String): String = {
      require(i + 1 < argv.length, s"$flag needs a value")
      i += 2; argv(i - 1)
    }
    while (i < argv.length) {
      argv(i) match {
        case "-i" | "--inputs" =>
          val start = i + 1; var j = start
          while (j < argv.length && !isFlag(argv(j))) j += 1
          a = a.copy(inputs = argv.slice(start, j).toSeq); i = j
        case f @ ("-o" | "--output") => a = a.copy(output = value(f))
        case f @ ("-s" | "--schema") => a = a.copy(schema = Some(value(f)))
        case f @ ("-I" | "--id-attrs") =>
          a = a.copy(idAttrs = value(f).split(",").toSeq)
        case f @ ("-m" | "--map-command") =>
          a = a.copy(mapCommand = Some(value(f)))
        case f @ ("-n" | "--default-namespace") => a = a.copy(ns = value(f))
        case f @ ("-p" | "--pull-expr") => a = a.copy(pullExpr = value(f))
        case f @ ("-e" | "--entity-pattern") =>
          a = a.copy(entityPattern = Some(value(f)))
        case f @ ("-E" | "--entities") =>
          a = a.copy(entities = Some(value(f).split(",").toSeq))
        case f @ ("-q" | "--query") => a = a.copy(query = Some(value(f)))
        case f @ ("-P" | "--processes") => value(f) // parallelism is Spark's
        case f @ "--format" => a = a.copy(format = Some(value(f)))
        case f @ "--id" => a = a.copy(idCol = value(f))
        case f @ "--text" => a = a.copy(textCol = value(f))
        case f @ "--size" => a = a.copy(chunkSize = value(f).toInt)
        case f @ "--stride" => a = a.copy(stride = value(f).toInt)
        case f @ "--capacity" => a = a.copy(capacity = value(f).toInt)
        case f @ "--by" => a = a.copy(packBy = Some(value(f)))
        case f @ "--buckets" => a = a.copy(buckets = Some(value(f).toInt))
        case f @ "--lo" => a = a.copy(lo = value(f).toInt)
        case f @ "--hi" => a = a.copy(hi = value(f).toInt)
        case f @ "--group" => a = a.copy(groupCol = value(f))
        case f @ "--folds" => a = a.copy(folds = value(f))
        case f @ "--pcts" =>
          a = a.copy(pcts = value(f).split(",").toSeq.map(_.toInt))
        case f @ "--table" => a = a.copy(table = Some(value(f)))
        case f @ "--lexicon" => a = a.copy(lexicon = Some(value(f)))
        case f @ "--index-path" => a = a.copy(indexPath = Some(value(f)))
        case f @ "--matches" => a = a.copy(matchesDir = Some(value(f)))
        case f @ "--batch-id" => a = a.copy(batchId = value(f).toLong)
        case "--vacuum" => a = a.copy(doVacuum = true); i += 1
        case "--no-intra-batch" => a = a.copy(intraBatch = false); i += 1
        case f @ "--threshold" => a = a.copy(threshold = value(f).toDouble)
        case f @ "--hashes" => a = a.copy(hashes = value(f).toInt)
        case f @ "--bands" => a = a.copy(bands = value(f).toInt)
        case f @ "--rows-per-band" => a = a.copy(rowsPerBand = value(f).toInt)
        case f @ "--ngram" => a = a.copy(ngram = value(f).toInt)
        case f @ "--seed" => a = a.copy(seed = value(f).toLong)
        case f @ "--clusters" => a = a.copy(clusters = value(f).toInt)
        case f @ "--iters" => a = a.copy(iters = value(f).toInt)
        case "--spans-only" => a = a.copy(spansOnly = true); i += 1
        case f @ "--vec" => a = a.copy(vecCol = value(f))
        case f @ "--test" => a = a.copy(testInput = Some(value(f)))
        case f @ "--gates" => a = a.copy(gates = Some(value(f)))
        case "--keep" => a = a.copy(keepRows = true); i += 1
        case f @ "--top" => a = a.copy(topK = value(f).toInt)
        case f @ "--summary" => a = a.copy(summaryM = value(f).toInt)
        case f @ "--min-count" => a = a.copy(minCount = value(f).toLong)
        case f @ "--score-col" => a = a.copy(scoreCol = Some(value(f)))
        case f @ "--bins" => a = a.copy(bins = value(f).toInt)
        case f @ "--k" => a = a.copy(kmvK = value(f).toInt)
        case f @ "--fracs" => a = a.copy(fracs = value(f))
        case f @ "--merges" => a = a.copy(merges = value(f).toInt)
        case f @ "--qs" =>
          a = a.copy(qs = value(f).split(",").toSeq.map(_.toDouble))
        case f @ "--ts-col" => a = a.copy(tsCol = value(f))
        case f @ "--val-col" => a = a.copy(valCol = value(f))
        case f @ "--step" => a = a.copy(stepSeconds = value(f).toLong)
        case f @ "--cols" => a = a.copy(cols = value(f).split(",").toSeq)
        case f @ "--steps" =>
          a = a.copy(funnelSteps = value(f).split(",").toSeq)
        case f @ "--window" => a = a.copy(windowSeconds = value(f).toLong)
        case other => sys.error(s"unknown argument: $other")
      }
    }
    require(a.inputs.nonEmpty || a.sub == "indexcompact" ||
      a.sub == "vidxcompact" || a.sub == "vidxmigrate" ||
      a.sub == "vidxstats",
      "no -i inputs given")
    a
  }

  /** `--gates` grammar for the funnel verb: comma-separated entries,
    * each becoming one named predicate stage over the text column —
    * `chars:LO:HI` (character-length band), `tokens:LO:HI`
    * (token-count band), `lang:CODE` (language-ID equality),
    * `stop:MIN` (stopword-ratio floor), `quality:MIN` (composite
    * quality-score floor). Stage order is the spec order — first
    * failing gate wins the drop attribution. */
  private[tools] def parseGates(spec: String, textCol: String)
      : Seq[(String, org.apache.spark.sql.Column)] = {
    import graft.ops.TextOps
    val t = col(textCol)
    spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map {
      _.split(":").toSeq match {
        case Seq("chars", lo, hi) =>
          "chars" -> org.apache.spark.sql.functions.length(t)
            .between(lo.toInt, hi.toInt)
        case Seq("tokens", lo, hi) =>
          "tokens" -> TextOps.nTokens(t).between(lo.toInt, hi.toInt)
        case Seq("lang", code) => "lang" -> (TextOps.langId(t) === code)
        case Seq("stop", min) =>
          "stop" -> (TextOps.stopwordRatio(t) >= min.toDouble)
        case Seq("quality", min) =>
          "quality" -> (TextOps.qualityScore(t) >= min.toDouble)
        // generic numeric-column gates — the seam that lets computed
        // metrics (gramfrac's dup_frac, a model score column) feed the
        // funnel: colmax:dup_frac:0.5 drops rows with dup_frac > 0.5.
        // A NULL metric fails the gate (Funnel's null-is-drop rule).
        case Seq("colmin", c, v) =>
          s"colmin_$c" -> (col(c) >= v.toDouble)
        case Seq("colmax", c, v) =>
          s"colmax_$c" -> (col(c) <= v.toDouble)
        case other => sys.error(
          s"bad gate '${other.mkString(":")}' (want chars:LO:HI | " +
            "tokens:LO:HI | lang:CODE | stop:MIN | quality:MIN | " +
            "colmin:COL:V | colmax:COL:V)")
      }
    }
  }

  // ---- JSON → query ASTs (the reference's python-literal shapes) ----

  private def isReverse(attr: String): Boolean = {
    val i = attr.indexOf(':')
    i >= 0 && attr.length > i + 1 && attr.charAt(i + 1) == '_'
  }
  private def forwardAttr(attr: String): String = {
    val i = attr.indexOf(':')
    attr.substring(0, i + 1) + attr.substring(i + 2)
  }

  def parsePullExpr(json: String): Seq[PullSpec] =
    pullSpecs(mapper.readTree(json))

  private def pullSpecs(n: JsonNode): Seq[PullSpec] = {
    require(n.isArray, s"pull expr must be a JSON array, got $n")
    n.elements().asScala.toSeq.flatMap {
      case t if t.isTextual && t.asText == "*" => Seq(PWild)
      case t if t.isTextual && isReverse(t.asText) =>
        Seq(PRevIds(forwardAttr(t.asText)))
      case t if t.isTextual => Seq(PAttr(t.asText))
      case o if o.isObject =>
        o.fields().asScala.toSeq.map { e =>
          val (attr, v) = (e.getKey, e.getValue)
          val (fwd, rev) =
            if (isReverse(attr)) (forwardAttr(attr), true) else (attr, false)
          if (v.isTextual && v.asText == "...") PRec(fwd, reverse = rev)
          else PNest(fwd, pullSpecs(v), reverse = rev)
        }
      case other => sys.error(s"bad pull spec element: $other")
    }
  }

  private def scalar(v: JsonNode): Any =
    if (v.isTextual) v.asText
    else if (v.isIntegralNumber) v.asLong
    else if (v.isNumber) v.asDouble
    else if (v.isBoolean) v.asBoolean
    else sys.error(s"bad scalar: $v")

  def parsePattern(json: String): Seq[(String, MVal)] =
    matchPattern(mapper.readTree(json))

  /** Resolve range-bound TYPES against the store's schema: JSON can
    * only carry strings and numbers, so a TIMESTAMP attr's range bound
    * arrives as an ISO-8601 STRING — coerce it to the LocalDateTime the
    * engine's VTs comparisons (and the index shadow) expect, accepting
    * both date-time ("2024-03-01T12:00:00") and date-only ("2024-03-01"
    * = midnight) forms. A malformed timestamp string fails LOUD here
    * (DateTimeParseException) instead of silently cast-matching
    * nothing. Non-VTs attrs pass through untouched — their JSON scalar
    * types are already the engine's. */
  private[graft] def coerceRangeBounds(ts: TripleStore,
      pat: Seq[(String, MVal)]): Seq[(String, MVal)] = {
    def ldt(s: String): java.time.LocalDateTime =
      if (s.contains("T")) java.time.LocalDateTime.parse(s)
      else java.time.LocalDate.parse(s).atStartOfDay
    def bound(b: Option[Any]): Option[Any] = b.map {
      case s: String => ldt(s)
      case other => other
    }
    pat.map {
      case (a, r: MRange)
          if ts.schemaOf(a).vtype == graft.model.Triples.VTs =>
        (a, r.copy(lo = bound(r.lo), hi = bound(r.hi)))
      case (a, MSub(sub)) => (a, MSub(coerceRangeBounds(ts, sub)))
      case kv => kv
    }
  }

  /** [[coerceRangeBounds]] for one datalog clause (the `[s a o]` form's
    * o-position range object). */
  private[graft] def coerceClause(ts: TripleStore,
      cl: (String, String, Any)): (String, String, Any) = cl match {
    case (s, a, r: MRange) =>
      (s, a, coerceRangeBounds(ts, Seq((a, r))).head._2)
    case c => c
  }

  /** Comparison-operator keys inside a pattern object denote a VALUE
    * RANGE ([[MRange]]) rather than a nested sub-pattern: attr names in
    * the EAV model are namespaced (`ns:name`), so a `$`-key can never
    * collide with a real attribute. `{"doc:n_chars": {"$gt": 450}}`. */
  private val RangeOps = Set("$gt", "$gte", "$lt", "$lte")

  private def matchPattern(n: JsonNode): Seq[(String, MVal)] = {
    require(n.isObject, s"entity pattern must be a JSON object, got $n")
    n.fields().asScala.toSeq.map { e =>
      val v = e.getValue
      e.getKey -> (
        if (v.isArray) MIn(v.elements().asScala.toSeq.map(scalar))
        else if (v.isObject) {
          val keys = v.fieldNames().asScala.toSet
          if (keys.nonEmpty && keys.subsetOf(RangeOps)) {
            require(!(keys("$gt") && keys("$gte")),
              "range pattern gives both $gt and $gte")
            require(!(keys("$lt") && keys("$lte")),
              "range pattern gives both $lt and $lte")
            def b(k: String) = Option(v.get(k)).map(scalar)
            MRange(lo = b("$gt").orElse(b("$gte")),
              hi = b("$lt").orElse(b("$lte")),
              loStrict = keys("$gt"), hiStrict = keys("$lt"))
          } else {
            // an object mixing $-operator keys with anything else is a
            // typo ({"$gt": 450, "$bogus": 1}), not a sub-pattern over
            // attributes literally named "$gt" — falling through to
            // MSub would silently match nothing. Reject loud, exactly
            // as the -q clause grammar does.
            require(!keys.exists(_.startsWith("$")),
              s"pattern object for '${e.getKey}' holds $$-operator " +
                s"keys mixed with non-range keys (got " +
                s"${keys.toSeq.sorted.mkString(", ")}) — a range " +
                s"object may hold only ${RangeOps.toSeq.sorted.mkString("/")}")
            MSub(matchPattern(v))
          }
        }
        else MEq(scalar(v)))
    }
  }

  def parseSchema(json: String): Map[String, AttrSchema] =
    mapper.readTree(json).fields().asScala.map { e =>
      val spec = e.getValue
      val card = Option(spec.get("db:cardinality")).map(_.asText)
      val vt = Option(spec.get("db:valueType")).map(_.asText)
      val isRef = vt.contains("db.type:ref")
      e.getKey -> AttrSchema(e.getKey,
        cardOne = card.contains("db.cardinality:one"), isRef = isRef,
        vtype = if (isRef) graft.model.Triples.VRef
          else vt.map(_.stripPrefix("db.type:"))
            .getOrElse(graft.model.Triples.VStr))
    }.toMap

  // ---- ingest + subcommands ----

  private def ingest(spark: SparkSession, a: Args): TripleStore = {
    val triples = a.mapCommand match {
      case Some(cmd) =>
        // cli.py:20-23's process pool, distributed: every executor pipes
        // its partition's lines through the command
        val mapped = JsonSource.mapCommand(
          spark.read.textFile(a.inputs: _*), cmd)
        DocIngest.flatten(spark.read.json(mapped), a.ns, a.idAttrs)
      case None => JsonSource.loadFacts(spark, a.ns, a.idAttrs, a.inputs: _*)
    }
    TripleStore.bootstrap(spark, triples,
      schema = a.schema.map(parseSchema).getOrElse(Map.empty))
  }

  private def writeOut(df: org.apache.spark.sql.DataFrame, out: String): Unit =
    if (out == "-" || out == "/dev/stdout")
      df.toJSON.collect().foreach(println)
    else df.write.mode("overwrite").json(out)

  /** `name:width,name:width,...` → ordered fold spec for
    * Sampling.groupSplit (widths are buckets of 256 and must sum to 256
    * — groupSplit enforces it). */
  private def parseFolds(spec: String): Seq[(String, Int)] =
    spec.split(",").toSeq.map { part =>
      part.split(":") match {
        case Array(name, wdt) if name.nonEmpty => name -> wdt.toInt
        case _ => sys.error(s"bad fold spec '$part' (want name:width)")
      }
    }

  /** Tabular input for the pipeline verbs: parquet when named (or when
    * the paths look like parquet), JSON lines otherwise — the same two
    * formats the engine's sources read. */
  private def readTable(spark: SparkSession,
      a: Args): org.apache.spark.sql.DataFrame = {
    val fmt = a.format.getOrElse(
      if (a.inputs.exists(_.contains(".parquet"))) "parquet" else "json")
    fmt match {
      case "parquet" => spark.read.parquet(a.inputs: _*)
      case "json" => spark.read.json(a.inputs: _*)
      case other => sys.error(s"--format must be json or parquet, got $other")
    }
  }

  def run(spark: SparkSession, argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    // pipeline verbs (cli.py:101-108 precedent: every engine capability
    // gets a CLI surface) operate on tabular input directly — no triple
    // round-trip for corpus transforms
    if (PipelineSubs.contains(a.sub)) {
      val df = if (a.inputs.nonEmpty) readTable(spark, a)
        else spark.emptyDataFrame // {index,vidx}compact/vidxmigrate: no input
      val out = a.sub match {
        case "dedup" => graft.ops.Dedup.exact(df, a.idCol, a.textCol)
        case "sample" => a.buckets match {
          case Some(b) => graft.ops.Sampling.deterministicSample(df, a.idCol, b)
          case None => graft.ops.Sampling.deterministicRange(df, a.idCol, a.lo, a.hi)
        }
        case "chunk" => graft.ops.TextOps.chunk(
          df, a.idCol, a.textCol, a.chunkSize, a.stride)
        case "pack" => a.packBy match {
          case Some(shard) => graft.ops.TextOps.packSequences(
            df, a.idCol, a.textCol, a.capacity, shard)
          case None => graft.ops.TextOps.packSequences(
            df, a.idCol, a.textCol, a.capacity)
        }
        case "scrub" => graft.ops.TextOps.scrubPii(df, a.idCol, a.textCol)
        // intra-doc repeated-line dedup (first occurrence survives)
        case "linededup" =>
          graft.ops.TextOps.dedupLines(df, a.idCol, a.textCol)
        // exact-substring dedup (Lee et al. 2021): default emits the
        // rewritten corpus; --spans-only emits the span evidence instead
        case "spandedup" =>
          if (a.spansOnly)
            graft.ops.Dedup.duplicateSpans(df, a.idCol, a.textCol, a.ngram)
          else
            graft.ops.Dedup.stripDuplicateSpans(df, a.idCol, a.textCol, a.ngram)
        // deterministic training-order shuffle: input + shuffle_pos
        case "shuffle" =>
          graft.ops.Sampling.shuffleDeterministic(df, a.idCol, a.seed)
        // test-set decontamination: cut every train span whose n-token
        // windows all appear in --test; --spans-only emits the evidence
        case "decontam" =>
          val testDf = readTable(spark, a.copy(inputs = Seq(
            a.testInput.getOrElse(sys.error("decontam needs --test")))))
          if (a.spansOnly)
            graft.ops.Dedup.contaminatedSpans(df, testDf, a.idCol,
              a.textCol, a.ngram)
          else
            graft.ops.Dedup.stripContamination(df, testDf, a.idCol,
              a.textCol, a.ngram)
        // SemDeDup semantic dedup over an embedding column (--vec);
        // --iters 0 = the oracle-reproducible seed quantizer
        case "semdedup" =>
          graft.ops.Similarity.semanticDedup(df, a.idCol, a.vecCol,
            a.clusters, a.threshold, a.iters)
        case "split" => graft.ops.Sampling.groupSplit(
          df, a.groupCol, parseFolds(a.folds))
        case "stats" => graft.ops.TextOps.lengthQuantiles(
          df, a.groupCol, a.textCol, a.pcts)
        // LSH-index lifecycle on the shell: build the corpus index once,
        // append arriving (already-deduped) batches, and near-dedup a
        // batch against it — the q102/q109/q110 loop as CLI verbs. Build
        // and append emit a 1-row receipt; indexdedup emits the pairs.
        case "indexbuild" =>
          val t = a.table.getOrElse(sys.error("indexbuild needs --table"))
          graft.ops.Dedup.buildLshIndex(df, a.idCol, a.textCol, t,
            a.indexPath.getOrElse(sys.error("indexbuild needs --index-path")),
            a.hashes, a.bands, a.rowsPerBand, a.buckets.getOrElse(16))
          import spark.implicits._
          Seq((t, spark.table(t + "_sh").count()))
            .toDF("table", "n_docs")
        case "indexappend" =>
          val t = a.table.getOrElse(sys.error("indexappend needs --table"))
          graft.ops.Dedup.appendLshIndex(df, a.idCol, a.textCol, t,
            a.hashes, a.bands, a.rowsPerBand, a.buckets.getOrElse(16))
          import spark.implicits._
          Seq((t, spark.table(t + "_sh").count()))
            .toDF("table", "n_docs")
        case "indexdedup" =>
          graft.ops.Dedup.incrementalNearDups(df,
            a.table.getOrElse(sys.error("indexdedup needs --table")),
            a.idCol, a.textCol, a.threshold,
            a.hashes, a.bands, a.rowsPerBand)
        // the full replay-idempotent ingest step as a shell verb: dedup
        // the batch (intra-batch + vs index), write matches under a
        // batchId-keyed dir, append survivors — re-running the SAME
        // --batch-id is a no-op that rewrites identical matches
        case "indexingest" =>
          val t = a.table.getOrElse(sys.error("indexingest needs --table"))
          val m = a.matchesDir
            .getOrElse(sys.error("indexingest needs --matches"))
          graft.streaming.StreamingDedup.ingestBatch(
            df, a.batchId, a.idCol, a.textCol, t, a.threshold,
            a.hashes, a.bands, a.rowsPerBand, a.buckets.getOrElse(16),
            onMatches = graft.streaming.StreamingDedup.parquetMatchSink(m),
            intraBatch = a.intraBatch)
          import spark.implicits._
          Seq((t, a.batchId,
              spark.read.parquet(s"$m/batch_${a.batchId}").count(),
              spark.table(t + "_sh").select("corpus_id").distinct().count()))
            .toDF("table", "batch_id", "n_matches", "n_docs")
        // compact BOTH tables of the LSH pair into --index-path (and
        // optionally vacuum the superseded copies): the maintenance verb
        // that bounds small-file growth from repeated indexappend/ingest
        case "indexcompact" =>
          val t = a.table.getOrElse(sys.error("indexcompact needs --table"))
          val p = a.indexPath
            .getOrElse(sys.error("indexcompact needs --index-path"))
          val b = a.buckets.getOrElse(16)
          val old1 = graft.ops.Layout.compactBucketed(
            spark, t, p, b, Seq("_bh"))
          val old2 = graft.ops.Layout.compactBucketed(
            spark, t + "_sh", p + "_sh", b, Seq("corpus_id"))
          if (a.doVacuum) {
            graft.ops.Layout.vacuum(spark, old1)
            graft.ops.Layout.vacuum(spark, old2)
          }
          import spark.implicits._
          Seq((t, spark.table(t + "_sh").select("corpus_id")
              .distinct().count()))
            .toDF("table", "n_docs")
        // value-ordered attr index lifecycle (ValueIndex): ingest the
        // input as a table store keyed by --id, index the named numeric
        // columns (attrs become "<table>:<col>") — sub-linear top-k
        // pulls probe it through withValueIndex
        case "vidxbuild" =>
          val t = a.table.getOrElse(sys.error("vidxbuild needs --table"))
          val p = a.indexPath
            .getOrElse(sys.error("vidxbuild needs --index-path"))
          require(a.cols.nonEmpty, "vidxbuild needs --cols <numeric col,...>")
          val store = graft.sources.RowIngest.store(Seq(
            df -> graft.sources.RowIngest.specFor(df, t, Seq(a.idCol))))
          val attrs = a.cols.map(c => s"$t:$c")
          graft.ValueIndex.build(store, t, p, attrs,
            a.buckets.getOrElse(64))
          // receipt: per-attr counts summed from the MANIFEST —
          // O(manifest), never a scan of the index it just wrote —
          // left-joined back to the requested attr list so an all-null
          // column (indexed but fact-free) shows up as an explicit 0,
          // not a vanished row
          import spark.implicits._
          attrs.toDF("attr")
            .join(graft.ValueIndex.factCounts(spark, t).drop("table"),
              Seq("attr"), "left")
            .select(lit(t).as("table"), col("attr"),
              coalesce(col("n_facts"), lit(0L)).as("n_facts"))
        // append a batch to a registered index: ingest the input as a
        // table store keyed by --id (same shape as vidxbuild) and
        // ValueIndex.append it — the batch is bucketed by the manifest's
        // harvested cuts, the existing corpus never read (re-asserted
        // keys reconcile at the next vidxcompact). The index table name
        // doubles as the ingest table name, so batch columns become the
        // same "<table>:<col>" attrs the build indexed.
        case "vidxappend" =>
          val t = a.table.getOrElse(sys.error("vidxappend needs --table"))
          // stamp the batch PAST every txId already indexed —
          // vidxcompact reconciles re-asserted keys latest-txId-wins,
          // and a batch ingested at the default tx 0 would TIE the
          // build rows (the stale value could survive its own upsert).
          // The max comes from the MANIFEST's maxtx bookkeeping:
          // O(manifest), never a corpus scan — append must stay
          // O(batch) at any index size. RowIngest.store stamps the
          // pruned source path (the one ValueIndex.append scans) with
          // the same tx as the eager triples.
          val tx = graft.ValueIndex.maxTx(spark, t) + 1L
          val batch = graft.sources.RowIngest.store(Seq(
            df -> graft.sources.RowIngest.specFor(df, t, Seq(a.idCol))),
            txId = tx)
          graft.ValueIndex.append(batch, t)
          // receipt from the MANIFEST (same O(manifest) read the tx
          // stamp does) — the v4 receipt's full-index grouped count
          // contradicted the O(batch) posture four lines up
          graft.ValueIndex.factCounts(spark, t)
        // re-cut the index over its current rows (reconciling upserting
        // appends to the latest txId) and swap to --index-path; --vacuum
        // deletes the superseded copies once the swap lands
        case "vidxcompact" =>
          val t = a.table.getOrElse(sys.error("vidxcompact needs --table"))
          val p = a.indexPath
            .getOrElse(sys.error("vidxcompact needs --index-path"))
          val (oldData, oldMan) = graft.ValueIndex.compact(spark, t, p,
            a.buckets.getOrElse(64))
          if (a.doVacuum) {
            graft.ops.Layout.vacuum(spark, oldData)
            graft.ops.Layout.vacuum(spark, oldMan)
          }
          import spark.implicits._
          Seq((t, spark.table(t).count(),
              spark.table(t + "_manifest").count()))
            .toDF("table", "n_facts", "n_manifest_rows")
        // manifest-only health report: per attr — fact count, buckets,
        // manifest rows, frag = rows/buckets (1.0 tight, grows with
        // appends — the compaction-cadence signal), shadow range, max
        // txId. O(manifest); the index data is never scanned.
        case "vidxstats" =>
          val t = a.table.getOrElse(sys.error("vidxstats needs --table"))
          graft.ValueIndex.stats(spark, t)
        // convert a pre-v3 plain-TABLE registration to the atomic view
        // shape — the ONE non-atomic catalog transition, explicit here
        // so register/compact never drop a table as a side effect
        case "vidxmigrate" =>
          val t = a.table.getOrElse(sys.error("vidxmigrate needs --table"))
          graft.ValueIndex.migrate(spark, t)
          import spark.implicits._
          Seq((t, "view")).toDF("table", "registered_as")
        // quality funnel: --gates "tokens:20:1000,lang:en,stop:0.05" →
        // per-gate drop report (default) or the surviving rows (--keep)
        case "funnel" =>
          val gates = parseGates(a.gates.getOrElse(
            sys.error("funnel needs --gates")), a.textCol)
          if (a.keepRows) graft.ops.Funnel.keep(df, gates)
          else graft.ops.Funnel.report(df, gates)
        // exact bounded-state heavy hitters over --group (certified:
        // the k-th count must clear the Misra-Gries bound or this throws)
        case "hitters" =>
          graft.ops.Skew.heavyHitters(df, a.groupCol, a.topK, a.summaryM,
            checkGuarantee = true)
        // α=1/2 temperature mixing over --group
        case "mix" =>
          graft.ops.Sampling.temperatureMix(df, a.groupCol, a.idCol)
        // corpus drift vs --test: top --top terms by |c_a·n_b − c_b·n_a|
        case "drift" =>
          val other = readTable(spark, a.copy(inputs = Seq(
            a.testInput.getOrElse(sys.error("drift needs --test")))))
          graft.ops.TextOps.vocabDrift(df, other, a.textCol, a.topK)
        // bigram-LM fluency scoring (corpus-trained counts)
        case "lmscore" =>
          graft.ops.TextOps.lmScore(df, a.idCol, a.textCol, a.minCount)
        // curriculum phases by --score-col (or the built-in quality
        // score over --text), --bins contiguous bins
        case "curriculum" =>
          val scored = a.scoreCol match {
            case Some(c) => df.withColumn("_curr_q", col(c))
            case None => df.withColumn("_curr_q",
              graft.ops.TextOps.qualityScore(col(a.textCol)))
          }
          graft.ops.Sampling.curriculumBins(scored, a.idCol, "_curr_q",
            a.bins).drop("_curr_q")
        // weighted-lexicon scoring: --lexicon is either an inline
        // term:points,term:points list or a file path readable by the
        // same tabular reader (columns term, weight)
        case "score" =>
          val spec = a.lexicon.getOrElse(sys.error("score needs --lexicon"))
          import spark.implicits._
          // inline iff the WHOLE spec is a term:points list — a URI-
          // scheme path (s3://bucket/lex.parquet, hdfs://…) contains ':'
          // too and must route to the file reader, not die as a "bad
          // lexicon entry"
          val inline = spec.matches("[^/,:\\s]+:-?\\d+(,[^/,:\\s]+:-?\\d+)*")
          val lex =
            if (inline)
              spec.split(",").toSeq.map { p =>
                p.split(":") match {
                  case Array(t, w) if t.nonEmpty => (t, w.toLong)
                  case _ => sys.error(s"bad lexicon entry '$p' (want term:points)")
                }
              }.toDF("term", "weight")
            else if (spec.endsWith(".parquet")) spark.read.parquet(spec)
            else spark.read.json(spec)
          graft.ops.TextOps.lexiconScore(df, a.idCol, a.textCol, lex)
        // KMV distinct-count estimate of --id at --k
        case "kmv" =>
          graft.ops.Sketches.kmvEstimate(
            graft.ops.Sketches.kmvSketch(df, col(a.idCol), a.kmvK), a.kmvK)
        // per---group stratified EXACT split at --fracs name:f,...
        case "stratsplit" =>
          val fr = a.fracs.split(",").toSeq.map { p =>
            p.split(":") match {
              case Array(n, f) if n.nonEmpty => (n, f.toDouble)
              case _ => sys.error(s"bad frac '$p' (want name:fraction)")
            }
          }
          graft.ops.Sampling.stratifiedSplit(df, a.groupCol, a.idCol, fr,
            a.seed)
        // exact corpus percentiles of --score-col (or the built-in
        // quality score over --text) at --qs
        case "quantiles" =>
          val scored = a.scoreCol match {
            case Some(c) => df.select(col(c).cast("double").as("_qv"),
              col(a.idCol))
            case None => df.select(
              graft.ops.TextOps.qualityScore(col(a.textCol)).as("_qv"),
              col(a.idCol))
          }
          graft.ops.Skew.exactQuantiles(scored, "_qv", a.idCol, a.qs)
            .withColumnRenamed("_qv", "value")
        // iterated BPE merge learning, --merges rounds
        case "bpelearn" =>
          graft.ops.TextOps.bpeLearn(df, a.textCol, a.merges)
        // per---group time-grid gap-fill of --val-col at --step seconds
        case "gapfill" =>
          graft.ops.TimeOps.gapFill(df, a.groupCol, a.tsCol, a.valCol,
            a.stepSeconds)
        // train/test leakage audit: cross---group exact-dup pair counts
        case "leakage" =>
          graft.ops.Dedup.leakageAudit(df, a.idCol, a.textCol, a.groupCol)
        // single-scan dataset card over --cols (default: every column)
        case "card" =>
          graft.ops.Profile.datasetCard(df,
            if (a.cols.nonEmpty) a.cols else df.columns.toSeq)
        // sharded profiling on the shell: `cardsketch` emits the
        // MERGEABLE per-column card for one shard; `cardmerge` reads
        // any number of saved sketch cards (-i card1 card2 ...) and
        // rolls them up into the finalized whole-corpus card without
        // rescanning any shard
        case "cardsketch" =>
          graft.ops.Profile.datasetCardSketch(df,
            if (a.cols.nonEmpty) a.cols else df.columns.toSeq, a.kmvK)
        case "cardmerge" =>
          graft.ops.Profile.finalizeDatasetCard(
            graft.ops.Profile.mergeDatasetCards(df, a.kmvK), a.kmvK)
        // snapshot diff vs --test (the v2 corpus): per-id
        // added/removed/changed/unchanged on --cols content
        case "diff" =>
          val v2 = readTable(spark, a.copy(inputs = Seq(
            a.testInput.getOrElse(sys.error("diff needs --test")))))
          graft.ops.Profile.datasetDiff(df, v2, a.idCol,
            if (a.cols.nonEmpty) a.cols else Seq(a.textCol))
        // balanced per-group exact sample: --top rows per --group
        case "groupsample" =>
          graft.ops.Sampling.exactNPerGroup(df, a.idCol, a.groupCol,
            a.topK)
        // ordered event-sequence completion per --group key: --steps
        // type1,type2,... within --window seconds (type column = --text)
        case "conversion" =>
          require(a.funnelSteps.size >= 2,
            "conversion needs --steps t1,t2[,...]")
          graft.ops.TimeOps.conversionFunnel(df, a.groupCol, a.tsCol,
            a.textCol, a.funnelSteps, a.windowSeconds)
        // ASCII histogram of --score-col (default: the built-in quality
        // score over --text) at --bins equal-width bins — the verb the
        // reference PLANNED as `plot` (argparse stub cli.py:46-51) and
        // never built. Binning is distributed (Profile.histogram);
        // rendering is a driver loop over the <= bins result rows.
        case "plot" =>
          val scored = a.scoreCol match {
            case Some(c) => df.select(col(c).cast("double").as("_pv"))
            case None => df.select(
              graft.ops.TextOps.qualityScore(col(a.textCol)).as("_pv"))
          }
          val h = graft.ops.Profile.histogram(scored, "_pv",
            math.max(a.bins, 1))
          val rows = h.orderBy("bin").collect()
          val peak = math.max(1L, rows.map(_.getLong(3)).max)
          rows.foreach { r =>
            val bar = "#" * ((r.getLong(3) * 40 + peak - 1) / peak).toInt
            println(f"${r.getDouble(1)}%12.3f ${r.getDouble(2)}%12.3f " +
              f"${r.getLong(3)}%8d $bar")
          }
          h
        // per-doc duplicate-gram fraction: the memorization-risk
        // threshold metric (share of 8-token windows occurring
        // verbatim elsewhere in the corpus). --keep carries the input
        // columns alongside the metrics so the output feeds straight
        // into `funnel --gates colmax:dup_frac:0.5` and then
        // `spandedup` — the gramfrac → funnel → strip curation recipe
        case "gramfrac" =>
          val m = graft.ops.Dedup.dupGramFraction(
            df, a.idCol, a.textCol, a.ngram)
          if (a.keepRows) df.join(m, Seq(a.idCol)) else m
        // subset-duplicate pairs at --threshold containment
        case "containment" =>
          val csh = df.select(col(a.idCol),
            graft.ops.Dedup.shinglesHashed(col(a.textCol)).as("_csh"))
          graft.ops.Dedup.containmentJoin(csh, a.idCol, "_csh",
            a.threshold)
      }
      writeOut(out, a.output)
      return
    }
    val ts = ingest(spark, a)
    a.sub match {
      case "join" =>
        if (a.output == "-" || a.output == "/dev/stdout") {
          val tmp = java.nio.file.Files
            .createTempDirectory("graft_join").toString
          DocIngest.dumpEavJsonl(ts.resolved, tmp)
          spark.read.textFile(tmp).collect().foreach(println)
        } else DocIngest.dumpEavJsonl(ts.resolved, a.output)
      case "pull" =>
        val specs = parsePullExpr(a.pullExpr)
        val result = a.entities match {
          case Some(ids) => ts.pullManyIds(ids, specs)
          case None =>
            val pat = a.entityPattern.map(parsePattern).getOrElse(
              sys.error("pull needs -e entity-pattern or -E entities"))
            ts.pullMany(coerceRangeBounds(ts, pat), specs)
        }
        writeOut(result, a.output)
      case "datalog" =>
        val q = parseDatalogQuery(
          a.query.getOrElse(sys.error("datalog needs -q query")))
        writeOut(q.coerced(ts).run(ts), a.output)
      case "count" =>
        // entity COUNT for a match pattern — the curation "how many
        // docs pass this gate" question answered without materializing
        // the match; with --table naming a registered ValueIndex whose
        // attrs cover the pattern's, a single-range pattern counts
        // inner buckets straight off the zone-map manifest
        // (TripleStore.countMatch — any decline is the exact fallback)
        val pat = a.entityPattern.map(parsePattern).getOrElse(
          sys.error("count needs -e entity-pattern"))
        val st = a.table.map(ts.withValueIndex).getOrElse(ts)
        import spark.implicits._
        writeOut(Seq(st.countMatch(coerceRangeBounds(st, pat)))
          .toDF("count"), a.output)
      case "sum" =>
        // LONG-attr sum over the matched entities ("total chars above
        // the threshold" from the shell): --cols names the summed
        // attr; with --table naming a registered ValueIndex, a
        // single-range-on-the-summed-attr pattern reads the manifest's
        // materialized per-bucket sums (TripleStore.sumMatch — any
        // decline is the exact semi-joined scan sum)
        val attr = a.cols match {
          case Seq(one) => one
          case _ => sys.error("sum needs --cols ATTR (exactly one)")
        }
        val pat = a.entityPattern.map(parsePattern).getOrElse(
          sys.error("sum needs -e entity-pattern"))
        val st = a.table.map(ts.withValueIndex).getOrElse(ts)
        import spark.implicits._
        writeOut(Seq(st.sumMatch(attr, coerceRangeBounds(st, pat)))
          .toDF("sum"), a.output)
      case "percentile" =>
        // exact nearest-rank percentiles of --cols ATTR at each --qs
        // (one {q, value} row per q); with --table naming a registered
        // ValueIndex, each rank is located by the manifest's cumulative
        // counts and ONE bucket scans (TripleStore.percentileValues).
        // An optional -e pattern CONDITIONS the ranks on the matched
        // entities ("p90 length of the docs between the gates") — the
        // single-range-on-ATTR shape is still manifest-located
        // (inner-bucket counts + exact edge counts), every other
        // pattern is the exact semi-joined fallback.
        val attr = a.cols match {
          case Seq(one) => one
          case _ => sys.error("percentile needs --cols ATTR (exactly one)")
        }
        val st = a.table.map(ts.withValueIndex).getOrElse(ts)
        import spark.implicits._
        val pv = a.entityPattern.map(parsePattern) match {
          case Some(pat) =>
            st.percentileValues(attr, a.qs, coerceRangeBounds(st, pat))
          case None => st.percentileValues(attr, a.qs)
        }
        writeOut(a.qs.map(q =>
            (q, pv(q).map(String.valueOf).orNull))
          .toDF("q", "value"), a.output)
      case v @ ("min" | "max") =>
        // extremum of --cols ATTR over the matched entities; with
        // --table naming a registered ValueIndex, a single-range
        // pattern on ATTR scans only the extremal bucket(s)
        // (TripleStore.minMatch/maxMatch — the manifest's min/max are
        // shadow doubles, so the native extremum touches one bucket).
        // Values render as strings (the attr may be any scalar type);
        // an empty match renders null.
        val attr = a.cols match {
          case Seq(one) => one
          case _ => sys.error(s"$v needs --cols ATTR (exactly one)")
        }
        val pat = a.entityPattern.map(parsePattern).getOrElse(
          sys.error(s"$v needs -e entity-pattern"))
        val st = a.table.map(ts.withValueIndex).getOrElse(ts)
        import spark.implicits._
        val res =
          if (v == "min") st.minMatch(attr, coerceRangeBounds(st, pat))
          else st.maxMatch(attr, coerceRangeBounds(st, pat))
        writeOut(Seq(res.map(String.valueOf).orNull).toDF(v), a.output)
      case "avg" =>
        // LONG-attr average over the matched entities — sum/count
        // composed, so a single-range pattern on the averaged attr
        // reads O(edge buckets) off the zone map
        // (TripleStore.avgMatch); an empty match renders null
        val attr = a.cols match {
          case Seq(one) => one
          case _ => sys.error("avg needs --cols ATTR (exactly one)")
        }
        val pat = a.entityPattern.map(parsePattern).getOrElse(
          sys.error("avg needs -e entity-pattern"))
        val st = a.table.map(ts.withValueIndex).getOrElse(ts)
        import spark.implicits._
        writeOut(Seq(st.avgMatch(attr, coerceRangeBounds(st, pat)))
          .toDF("avg"), a.output)
    }
  }

  /** The reference's planned datalog query dict (tripl.py:571-584),
    * extended with stratified negation under the `not` key, Datomic-
    * style find-aggregates under the `agg` key
    * (`"agg": [["count", "?o", "n_orders"]]` — find vars group), and
    * disjunction: a `where` entry may be `{"or": [branch, ...]}` where a
    * branch is one `[s a o]` clause or an and-group `[[s a o], ...]`
    * (Datomic's `or`/`and` forms; all branches must bind the same
    * variables). */
  final case class DatalogQuery(
      find: Seq[String], where: Seq[(String, String, Any)],
      rules: Seq[DatalogRule], sortBy: Option[String], take: Option[Int],
      notWhere: Seq[(String, String, Any)] = Nil,
      agg: Seq[DatalogAgg] = Nil,
      withVars: Seq[String] = Nil,
      orWhere: Seq[graft.query.DatalogOr] = Nil,
      recursiveCte: Boolean = false) {
    /** Range bounds resolved against the store's schema
      * ([[coerceRangeBounds]]: ISO-8601 strings → LocalDateTime for
      * VTs attrs) in every clause position that can carry a range
      * object. */
    def coerced(ts: TripleStore): DatalogQuery =
      copy(where = where.map(coerceClause(ts, _)),
        notWhere = notWhere.map(coerceClause(ts, _)),
        orWhere = orWhere.map(o => graft.query.DatalogOr(
          o.branches.map(_.map(coerceClause(ts, _))))),
        rules = rules.map(r => r.copy(
          body = r.body.map(coerceClause(ts, _)),
          negBody = r.negBody.map(coerceClause(ts, _)))))
    def run(ts: TripleStore): org.apache.spark.sql.DataFrame =
      ts.datalogRules(find, where, rules, sortBy = sortBy, take = take,
          notWhere = notWhere, aggregates = agg, withVars = withVars,
          orWhere = orWhere, useRecursiveCte = recursiveCte)
        .toDF(find.map(_.stripPrefix("?")) ++ agg.map(_.as): _*)
  }

  def parseDatalogQuery(json: String): DatalogQuery = {
    val q = mapper.readTree(json)
    def triple(n: JsonNode): (String, String, Any) = {
      val els = n.elements().asScala.toSeq
      require(els.size == 3, s"clause must be [s a o], got $n")
      // an object in the o position is a RANGE constant (same $-key
      // grammar as -e patterns): [?d, doc:n_chars, {"$gt": 450}]
      val o = if (els(2).isObject) {
        val keys = els(2).fieldNames().asScala.toSet
        require(keys.nonEmpty && keys.subsetOf(RangeOps),
          s"clause object values must hold only ${RangeOps.mkString("/")}" +
            s" keys, got ${els(2)}")
        def b(k: String) = Option(els(2).get(k)).map(scalar)
        MRange(lo = b("$gt").orElse(b("$gte")),
          hi = b("$lt").orElse(b("$lte")),
          loStrict = keys("$gt"), hiStrict = keys("$lt"))
      } else scalar(els(2))
      (els(0).asText, els(1).asText, o)
    }
    def required(key: String): JsonNode = {
      val n = q.get(key)
      require(n != null, s"datalog query needs a '$key' key, got $json")
      n
    }
    // shape-validate EVERY list key: JsonNode.elements() on a scalar is
    // an empty iterator, so a mis-typed value would silently become Nil
    // and the query would run with wrong semantics and no error
    def asArray(key: String, n: JsonNode): JsonNode = {
      require(n.isArray, s"'$key' must be a list, got $n")
      n
    }
    val find = asArray("find", required("find"))
      .elements().asScala.map(_.asText).toSeq
    require(find.nonEmpty, s"'find' must name at least one variable")
    // `where` entries: plain [s a o] clauses, or {"or": [branch...]}
    // disjunction groups (branch = one clause or an and-group of clauses)
    val (orEls, whereEls) = asArray("where", required("where"))
      .elements().asScala.toSeq
      .partition(e => e.isObject && e.has("or"))
    orEls.foreach(e => require(e.size() == 1,
      s"""disjunction must be exactly {"or": [branch...]}, got $e"""))
    val where = whereEls.map(triple)
    val orWhere = orEls.map { e =>
      val branches = asArray("or", e.get("or")).elements().asScala.map { b =>
        require(b.isArray && b.size() > 0,
          s"or branch must be [s a o] or [[s a o]...], got $b")
        if (b.get(0).isArray) b.elements().asScala.map(triple).toSeq
        else Seq(triple(b))
      }.toSeq
      graft.query.DatalogOr(branches)
    }
    val rules = Option(q.get("rules")).map(asArray("rules", _))
      .map(_.elements().asScala.map { r =>
        val els = r.elements().asScala.toSeq
        require(r.isArray && els.nonEmpty,
          s"rule must be [[pred ?s ?o] body...], got $r")
        // head is [predicate, ?s, ?o] — the grammar comment's order
        val h = els.head.elements().asScala.toSeq
        require(h.size == 3, s"rule head must be [pred ?s ?o], got ${els.head}")
        // body literals: [s a o], or {"not": [s a o]} for a NEGATED
        // literal (stratified — the engine orders strata and rejects
        // cycles through negation)
        val (negEls, posEls) =
          els.tail.partition(e => e.isObject && e.has("not"))
        negEls.foreach(e => require(e.size() == 1,
          s"negated body literal must be exactly {\"not\": [s a o]}, got $e"))
        DatalogRule((h(1).asText, h(0).asText, h(2).asText),
          posEls.map(triple), negEls.map(e => triple(e.get("not"))))
      }.toSeq).getOrElse(Nil)
    val aggs = Option(q.get("agg")).map(asArray("agg", _))
      .map(_.elements().asScala.map { a =>
        val els = a.elements().asScala.toSeq
        require(a.isArray && els.size == 3,
          s"agg entry must be [fn ?var out_name], got $a")
        DatalogAgg(els(0).asText, els(1).asText, els(2).asText)
      }.toSeq).getOrElse(Nil)
    // sort may name a find variable (?-normalized) or an agg output column
    val sortBy = Option(q.get("sort")).map(_.asText).map { s =>
      if (aggs.exists(_.as == s)) s
      else if (s.startsWith("?")) s else "?" + s
    }
    sortBy.foreach(s => require(find.contains(s) || aggs.exists(_.as == s),
      s"'sort' names $s, which is neither in 'find' " +
        s"${find.mkString("[", " ", "]")} nor an agg output"))
    val take = Option(q.get("take")).map { n =>
      require(n.isIntegralNumber, s"'take' must be an integer, got $n")
      n.asInt
    }
    val notW = Option(q.get("not")).map { n =>
      require(n.isArray && n.elements().asScala.forall(_.isArray),
        s"'not' must be a list of [s a o] clauses, got $n")
      n.elements().asScala.map(triple).toSeq
    }.getOrElse(Nil)
    // Datomic's :with — extra distinct-basis vars for the aggregates
    val withV = Option(q.get("with")).map(asArray("with", _))
      .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
    // engine EXTENSION beyond the reference grammar: opt into the
    // WITH RECURSIVE lowering for linear programs (see datalogRules'
    // useRecursiveCte doc — non-qualifying shapes fall back silently)
    val cte = Option(q.get("recursive_cte")).exists { n =>
      require(n.isBoolean, s"'recursive_cte' must be a boolean, got $n")
      n.asBoolean
    }
    DatalogQuery(find, where, rules, sortBy, take, notW, aggs, withV,
      orWhere, cte)
  }

  def main(argv: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    run(spark, argv)
  }
}
