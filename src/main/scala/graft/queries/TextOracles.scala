package graft.queries

/** DuckDB-dialect oracle SQL for [[TextQueries]]. The SQL re-implements the
  * same polynomial-hash / shingle / minhash arithmetic with DuckDB list
  * lambdas, so the compare is value-exact, not statistical.
  */
object TextOracles {

  /** Polynomial rolling hash of a string expression, DuckDB lambda form of
    * [[graft.ops.TextOps.polyHash]]. */
  def H(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(list_filter(string_split($e, ''), c -> c <> ''), " +
      s"c -> CAST(ascii(c) AS BIGINT))), (h, c) -> (h * 31 + c) % 1000000007)"

  /** Second hash plane (mult 131, mod 998244353) — DuckDB twin of
    * [[graft.functions.PolyHash2Fn]]. */
  def H2(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(list_filter(string_split($e, ''), c -> c <> ''), " +
      s"c -> CAST(ascii(c) AS BIGINT))), (h, c) -> (h * 131 + c) % 998244353)"

  /** Wide two-plane string hash H(e)·2^31 + H2(e) — DuckDB twin of
    * [[graft.functions.PolyHashWideFn]]. Every intermediate < 2^61:
    * plain BIGINT arithmetic, no hugeint. */
  def HW(e: String): String = s"(${H(e)} * 2147483648 + ${H2(e)})"

  /** lead() columns for BOTH hash planes of an n-token window fold
    * (expects per-token columns `th` (plane 1) and `t2` (plane 2)). */
  def wideLeads(n: Int): String =
    ((1 until n).map(i =>
      s"lead(th, $i) OVER (PARTITION BY doc_id ORDER BY pos) AS th$i") ++
     (1 until n).map(i =>
      s"lead(t2, $i) OVER (PARTITION BY doc_id ORDER BY pos) AS t2$i"))
      .mkString(", ")

  /** The wide n-token window hash from lead-fold columns: plane-1 fold
    * (·31 mod 1e9+7) shifted by 2^31 plus plane-2 fold (·131 mod
    * 998244353) — DuckDB twin of
    * [[graft.functions.ShingleHashesWideFn]]. */
  def wideFold(n: Int): String = {
    val f1 = (1 until n).foldLeft("th")((acc, i) =>
      s"($acc * 31 + th$i) % 1000000007")
    val f2 = (1 until n).foldLeft("t2")((acc, i) =>
      s"($acc * 131 + t2$i) % 998244353")
    s"(($f1) * 2147483648 + ($f2))"
  }

  /** Whitespace tokens of `text` with empty-doc guard. */
  val Tk: String =
    "CASE WHEN length(trim(text)) = 0 THEN [] " +
      "ELSE string_split_regex(trim(text), '\\s+') END"

  /** Shared CTE prefix: tokens → per-token hash → lead()-window n-shingle
    * hash fold → (doc, shingle hash) stream `shu` (+ deduped `shx`).
    * Mirrors the relational NearDup.shingleRows exactly (same fold, same
    * mod placement). */
  def shingleCtesBody(n: Int, src: String): String = {
    val leads = (1 until n).map(i =>
      s"lead(th, $i) OVER (PARTITION BY doc_id ORDER BY pos) AS th$i")
      .mkString(",\n          ")
    val fold = (1 until n).foldLeft("th")((acc, i) =>
      s"($acc * 31 + th$i) % 1000000007")
    s"""tok0 AS (SELECT doc_id, $Tk AS tk FROM $src),
       |tokx AS (SELECT doc_id, unnest(tk) AS tok,
       |           unnest(range(1, len(tk) + 1)) AS pos FROM tok0),
       |th AS (SELECT doc_id, pos, ${H("tok")} AS th FROM tokx),
       |shl AS (SELECT doc_id, th,
       |          $leads
       |        FROM th),
       |shu AS (SELECT doc_id, $fold AS h
       |        FROM shl WHERE th${n - 1} IS NOT NULL
       |        UNION ALL
       |        SELECT doc_id, ${H("array_to_string(tk, ' ')")} AS h
       |        FROM tok0 WHERE len(tk) < $n),
       |shx AS (SELECT DISTINCT doc_id, h FROM shu)""".stripMargin
  }

  def shingleCtes(n: Int): String = "WITH " + shingleCtesBody(n, "documents")

  /** Like [[shingleCtesBody]] but position-aware, ending in `stx`
    * (doc_id, h, st): each window hash paired with its exact n-token
    * text (whole-doc fallback text for docs under n tokens) — the SQL
    * twin of NearDup.shingleTextRows, for oracles that must verify a
    * hash match on text. */
  def shingleTextCtesBody(n: Int, src: String): String = {
    s"""tok0 AS (SELECT doc_id, $Tk AS tk FROM $src),
       |tokx AS (SELECT doc_id, unnest(tk) AS tok,
       |           unnest(range(0, len(tk))) AS pos FROM tok0
       |         WHERE len(tk) >= $n),
       |th AS (SELECT doc_id, pos, ${H("tok")} AS th, ${H2("tok")} AS t2
       |       FROM tokx),
       |shl AS (SELECT doc_id, pos, th, t2, ${wideLeads(n)} FROM th),
       |win AS (SELECT doc_id, pos, ${wideFold(n)} AS h
       |        FROM shl WHERE th${n - 1} IS NOT NULL),
       |stx AS (SELECT w.doc_id, w.h,
       |          array_to_string(t.tk[w.pos + 1 : w.pos + $n], ' ') AS st
       |        FROM win w JOIN tok0 t USING (doc_id)
       |        UNION ALL
       |        SELECT doc_id, ${HW("array_to_string(tk, ' ')")} AS h,
       |          array_to_string(tk, ' ') AS st
       |        FROM tok0 WHERE len(tk) < $n)""".stripMargin
  }

  val ShingleCtes: String = shingleCtes(3)

  /** + 16 minhashes per doc (mirrors NearDup.signatureColumn). */
  val MinhashCtes: String =
    s"""$ShingleCtes,
       |mh AS (SELECT doc_id, i,
       |         MIN(((2654435761 * (i + 1)) % 1000000007 * h
         |              + (2246822519 * (i + 1)) % 1000000007)
         |             % 1000000007) AS mh
       |       FROM shx CROSS JOIN (SELECT unnest(range(0, 16)) AS i) idx
       |       GROUP BY doc_id, i)""".stripMargin

  val stopwords = graft.ops.TextOps.Stopwords.map(w => s"'$w'").mkString(", ")

  /** Naive-Bayes classifier CTE chain (q110/q118): hashed-unigram
    * features, add-one smoothed (label, bucket) model, decimal
    * per-feature log-prob sums + doc-count prior, argmax with label-asc
    * tiebreak → `pred(doc_id, lang, pred, s)`. Mirrors
    * [[graft.ops.TextOps.nbClassify]] value-exactly. */
  private val NbCtes: String = {
    val nB = TextQueries.DsirBuckets
    s"""tok0 AS (SELECT doc_id, lang, $Tk AS tk FROM documents),
       |ne AS (SELECT * FROM tok0 WHERE len(tk) >= 1),
       |feats AS (SELECT doc_id, lang,
       |            unnest(list_transform(tk, t -> ${H("t")} % $nB)) AS b
       |          FROM ne),
       |model AS (SELECT lang AS l, b, COUNT(*) AS c
       |          FROM feats GROUP BY 1, 2),
       |totals AS (SELECT l, CAST(SUM(c) AS BIGINT) AS tot
       |           FROM model GROUP BY 1),
       |nall AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd_all FROM documents),
       |priors AS (SELECT lang AS l,
       |             CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE) / nd_all), 9)
       |               AS DECIMAL(18,9)) AS lprior
       |           FROM documents CROSS JOIN nall GROUP BY 1, nd_all),
       |sc AS (SELECT f.doc_id, f.lang, t.l,
       |         CAST(ROUND(ln((COALESCE(m.c, 0) + 1.0)
       |                       / (t.tot + $nB)), 9)
       |           AS DECIMAL(18,9)) AS lp
       |       FROM feats f CROSS JOIN totals t
       |         LEFT JOIN model m ON m.l = t.l AND m.b = f.b),
       |agg AS (SELECT doc_id, lang, l, SUM(lp) AS s
       |        FROM sc GROUP BY 1, 2, 3),
       |fin AS (SELECT a.doc_id, a.lang, a.l, a.s + p.lprior AS s
       |        FROM agg a JOIN priors p ON p.l = a.l),
       |pred AS (SELECT doc_id, lang, l AS pred, s
       |         FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |                 ORDER BY s DESC, l ASC) AS rn FROM fin)
       |         WHERE rn = 1)""".stripMargin
  }

  /** Winnowing CTE chain (q123/q124), DuckDB twin of
    * [[graft.ops.NearDup.winnowSelection]]: stride-1 wide k-gram hash
    * stream with 0-based window-start pos, keys as STRUCT(h, np) with
    * np = 2^30−1−pos so list_min per sliding window is "smallest hash,
    * rightmost position" (struct comparison is field-lexicographic on
    * both engines — the wide ≈2^60 hash no longer packs beside the
    * position in one BIGINT); short docs (< w windows, incl. the
    * |tokens|<k whole-doc fallback) contribute their single overall
    * min. Per-doc distinctness lands as row-level DISTINCT in `fph`
    * (DuckDB's list_distinct lacks struct support), identical to the
    * engine's array_distinct-then-explode. Ends in
    * `fph(doc_id, h, pos)`. */
  val WinnowCtes: String = {
    val k = TextQueries.WinnowK
    val w = TextQueries.WinnowW
    val P = "1073741824"
    s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
       |lng AS (SELECT doc_id, tk FROM tok0 WHERE len(tk) >= $k),
       |tokx AS (SELECT doc_id, unnest(tk) AS tok,
       |           unnest(range(0, len(tk))) AS pos FROM lng),
       |th AS (SELECT doc_id, pos, ${H("tok")} AS th, ${H2("tok")} AS t2
       |       FROM tokx),
       |shl AS (SELECT doc_id, pos, th, t2, ${wideLeads(k)} FROM th),
       |win AS (SELECT doc_id, pos, ${wideFold(k)} AS h
       |        FROM shl WHERE th${k - 1} IS NOT NULL),
       |keyl AS (SELECT doc_id,
       |           list(struct_pack(h := h, np := $P - 1 - pos)
       |                ORDER BY pos) AS keys
       |         FROM win GROUP BY doc_id
       |         UNION ALL
       |         SELECT doc_id,
       |           [struct_pack(h := ${HW("array_to_string(tk, ' ')")},
       |                        np := $P - 1)] AS keys
       |         FROM tok0 WHERE len(tk) < $k),
       |sel AS (SELECT doc_id, CASE WHEN len(keys) >= $w THEN
       |          list_transform(range(1, len(keys) - $w + 2),
       |            j -> list_min(list_slice(keys, j, j + $w - 1)))
       |        ELSE [list_min(keys)] END AS fps FROM keyl),
       |fp AS (SELECT doc_id, unnest(fps) AS key FROM sel),
       |fph AS (SELECT DISTINCT doc_id, (key).h AS h,
       |          $P - 1 - (key).np AS pos FROM fp)""".stripMargin
  }

  /** q137 oracle: the WHOLE BPE pipeline — training included — replayed
    * in DuckDB. The trainer ([[graft.ops.Bpe.train]]) is an iterative
    * driver argmax, but the merge COUNT is a compile-time constant
    * ([[TextQueries.BpeMerges]] = 8), so the rounds unroll into a static
    * CTE chain: pair-count aggregate → 1-row argmax (same count-desc,
    * left-asc, right-asc tie-break; binary string order on both engines)
    * → merge applied as the identical left-to-right non-overlapping
    * list fold (the q228 list_reduce pattern: seed prepended because
    * DuckDB's list_reduce has no initial-accumulator form). The encode
    * step folds each DISTINCT word through the learned rounds once and
    * joins back to the (doc, word) stream — value-identical to the
    * engine's per-occurrence fold, since the fold is a pure function of
    * the word. */
  def bpeEncodeSql(numMerges: Int): String = {
    val encs = (1 to numMerges).map(bpeEncRound).mkString(",\n")
    s"""WITH ${bpeTrainCtes(numMerges)},
       |uw AS (SELECT DISTINCT w FROM wd),
       |e0 AS (SELECT w, ${bpeChars("w")} AS syms FROM uw),
       |$encs
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(len(syms)) AS BIGINT) AS n_subwords,
       |  ROUND(CAST(SUM(len(syms)) AS DOUBLE) / COUNT(*), 6) AS fertility
       |FROM wd JOIN e$numMerges USING (w)
       |GROUP BY doc_id""".stripMargin
  }

  /** q134 oracle: the merge TABLE from the same unrolled-CTE trainer as
    * [[bpeEncodeSql]] — round k's 1-row argmax t{k} (pair + its count at
    * merge time) read back as rank-k of the learned vocabulary. Same
    * tie-break (count desc, left asc, right asc — binary string order on
    * both engines), same non-overlapping left-to-right merge fold
    * between rounds, so the selected pairs are value-identical to the
    * engine trainer's ([[graft.ops.Bpe.train]], its q134 readout
    * [[graft.ops.Bpe.learnedMerges]]). */
  def bpeMergesSql(numMerges: Int): String = {
    val rows = (1 to numMerges).map { k =>
      s"""SELECT $k AS rank, l$k AS "left", r$k AS "right",
         |  c$k AS pair_count FROM t$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeTrainCtes(numMerges)}
       |$rows""".stripMargin
  }

  private def bpeChars(e: String) =
    s"list_filter(string_split($e, ''), c -> c <> '')"

  /** One merge round applied to a syms column, merge pair read from the
    * correlated 1-row t{k} CTE (DuckDB lambdas capture outer columns). */
  private def bpeApplyMerge(k: Int) =
    s"""CASE WHEN len(syms) <= 1 THEN syms
       |      ELSE list_reduce(
       |        list_prepend([syms[1]],
       |          list_transform(syms[2:], c -> [c])),
       |        (acc, x) -> CASE
       |          WHEN acc[-1] = l$k AND x[1] = r$k
       |          THEN list_append(acc[:len(acc) - 1], acc[-1] || x[1])
       |          ELSE list_append(acc, x[1]) END) END""".stripMargin

  private def bpeRound(k: Int) =
    s"""p$k AS (SELECT syms[i] AS l, syms[i + 1] AS r, SUM(n) AS c
       |  FROM (SELECT syms, n, unnest(range(1, len(syms))) AS i
       |        FROM v${k - 1})
       |  GROUP BY 1, 2),
       |t$k AS (SELECT l AS l$k, r AS r$k, CAST(c AS BIGINT) AS c$k
       |        FROM p$k
       |        ORDER BY c DESC, l ASC, r ASC LIMIT 1),
       |v$k AS (SELECT ${bpeApplyMerge(k)} AS syms, n
       |        FROM v${k - 1} CROSS JOIN t$k)""".stripMargin

  private def bpeEncRound(k: Int) =
    s"""e$k AS (SELECT w, ${bpeApplyMerge(k)} AS syms
       |        FROM e${k - 1} CROSS JOIN t$k)""".stripMargin

  /** The shared training chain: corpus-once word frequencies (wd/wf),
    * char-seed vocabulary v0, then `numMerges` unrolled rounds — each a
    * pair-count aggregate p{k}, the argmax t{k}, and the merged
    * vocabulary v{k}. */
  private def bpeTrainCtes(numMerges: Int): String = {
    val rounds = (1 to numMerges).map(bpeRound).mkString(",\n")
    s"""tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
       |wd AS (SELECT doc_id, unnest(tk) AS w FROM tok0),
       |wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM wd GROUP BY w),
       |v0 AS (SELECT ${bpeChars("w")} AS syms, n FROM wf),
       |$rounds""".stripMargin
  }

  /** q264 oracle: the whole paragraph-dedup pipeline — paragraphize into
    * [[TextQueries.ParagraphTokens]]-token chunks joined by blank lines,
    * keep each distinct paragraph only at its corpus-minimal (doc, pos)
    * (two stacked MIN aggregates, the engine's exact rule), reassemble
    * per doc in position order, left-join so paragraph-less docs come
    * back with zero counts and empty text. */
  def paragraphDedupSql(p: Int): String = {
    val sep = "chr(10) || chr(10)"
    s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
       |pt AS (SELECT doc_id, CASE WHEN len(tk) = 0 THEN ''
       |    ELSE array_to_string(list_transform(
       |      range(0, (len(tk) - 1) // $p + 1),
       |      i -> array_to_string(tk[i*$p+1 : i*$p+$p], ' ')), $sep)
       |  END AS t FROM tok0),
       |pars AS (SELECT doc_id, pos, par FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(t, '\\n{2,}')) AS par,
       |      unnest(range(0, len(string_split_regex(t, '\\n{2,}')))) AS pos
       |    FROM pt) z
       |  WHERE length(trim(par)) > 0),
       |kd AS (SELECT par, MIN(doc_id) AS kdoc FROM pars GROUP BY par),
       |kp AS (SELECT q.par, q.doc_id AS kdoc, MIN(q.pos) AS kpos
       |       FROM pars q JOIN kd ON q.par = kd.par AND q.doc_id = kd.kdoc
       |       GROUP BY q.par, q.doc_id),
       |kept AS (SELECT q.doc_id, q.pos, q.par FROM pars q
       |         JOIN kp ON q.par = kp.par AND q.doc_id = kp.kdoc
       |           AND q.pos = kp.kpos),
       |reb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |          array_to_string(list(par ORDER BY pos), $sep)
       |            AS text_deduped
       |        FROM kept GROUP BY doc_id),
       |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pars
       |        FROM pars GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(cnt.n_pars, 0) AS n_pars,
       |  COALESCE(reb.n_kept, 0) AS n_kept,
       |  COALESCE(reb.text_deduped, '') AS text_deduped
       |FROM documents d
       |LEFT JOIN cnt USING (doc_id)
       |LEFT JOIN reb USING (doc_id)""".stripMargin
  }

  /** q266/q267 oracle: the quality-classifier trainer replayed in DuckDB
    * — [[graft.queries.TextQueries.TrainRounds]] full-batch GD rounds
    * unrolled as static CTEs (the BPE-trainer pattern). Round k reads
    * round k−1's weights through scalar subqueries, computes z =
    * ((b + w1·x1) + w2·x2) + w3·x3 in the engine's exact left-assoc
    * order, the rational sigmoid 0.5 + z/(2·(1+|z|)) (pure arithmetic —
    * both engines' doubles identical), and updates w += lr · (decimal
    * gradient sum → DOUBLE / n) with the parenthesization pinned to the
    * engine's (`lr * (g / n)`, never `(lr*g)/n`). */
  private def trainCtes(rounds: Int, lr: Double): String = {
    def wref(k: Int, c: String) = s"(SELECT $c FROM r$k)"
    // AS MATERIALIZED is load-bearing: DuckDB inlines CTEs by default,
    // so round k's scalar subqueries would re-expand the whole k−1
    // chain at every reference — exponential plan growth that hangs at
    // 4 rounds. Materializing pins each round to run once.
    def round(k: Int) = {
      val p = k - 1
      s"""z$k AS MATERIALIZED (SELECT y, x1, x2, x3,
         |  ${wref(p, "b")} + ${wref(p, "w1")}*x1 + ${wref(p, "w2")}*x2
         |    + ${wref(p, "w3")}*x3 AS z FROM f),
         |e$k AS MATERIALIZED (SELECT y - (0.5 + z/(2*(1+abs(z)))) AS e,
         |        x1, x2, x3 FROM z$k),
         |r$k AS MATERIALIZED (SELECT
         |  ${wref(p, "b")} + $lr * (CAST(SUM(CAST(e AS DECIMAL(28,10)))
         |    AS DOUBLE) / (SELECT n FROM nn)) AS b,
         |  ${wref(p, "w1")} + $lr * (CAST(SUM(CAST(x1*e AS DECIMAL(28,10)))
         |    AS DOUBLE) / (SELECT n FROM nn)) AS w1,
         |  ${wref(p, "w2")} + $lr * (CAST(SUM(CAST(x2*e AS DECIMAL(28,10)))
         |    AS DOUBLE) / (SELECT n FROM nn)) AS w2,
         |  ${wref(p, "w3")} + $lr * (CAST(SUM(CAST(x3*e AS DECIMAL(28,10)))
         |    AS DOUBLE) / (SELECT n FROM nn)) AS w3
         |  FROM e$k)""".stripMargin
    }
    val thr = graft.queries.TextQueries.TrainLabelTokens
    s"""f AS MATERIALIZED (SELECT doc_id,
       |    CASE WHEN len(tk) >= $thr THEN 1.0 ELSE 0.0 END AS y,
       |    CASE WHEN len(tk) = 0 THEN 0.0
       |      ELSE CAST(len(list_filter(tk, t -> t IN ($stopwords)))
       |        AS DOUBLE) / len(tk) END AS x1,
       |    (CASE WHEN len(tk) = 0 THEN 0.0
       |      ELSE CAST(length(text) AS DOUBLE) / len(tk) END) / 10 AS x2,
       |    CAST(len(tk) AS DOUBLE) / 100 AS x3
       |  FROM (SELECT doc_id, text, $Tk AS tk FROM documents) t),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f),
       |r0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
       |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q266_quality_trainer" -> {
      val R = graft.queries.TextQueries.TrainRounds
      s"""WITH ${trainCtes(R, graft.queries.TextQueries.TrainLr)}
         |SELECT 'bias' AS feature, ROUND(b, 6) AS weight FROM r$R
         |UNION ALL
         |SELECT 'stopword_ratio', ROUND(w1, 6) FROM r$R
         |UNION ALL
         |SELECT 'chars_per_token_10', ROUND(w2, 6) FROM r$R
         |UNION ALL
         |SELECT 'tokens_100', ROUND(w3, 6) FROM r$R""".stripMargin
    },

    "q267_quality_scores" -> {
      val R = graft.queries.TextQueries.TrainRounds
      s"""WITH ${trainCtes(R, graft.queries.TextQueries.TrainLr)},
         |sc AS (SELECT doc_id, y,
         |    (SELECT b FROM r$R) + (SELECT w1 FROM r$R)*x1
         |      + (SELECT w2 FROM r$R)*x2 + (SELECT w3 FROM r$R)*x3 AS z
         |  FROM f)
         |SELECT doc_id,
         |  ROUND(0.5 + z/(2*(1+abs(z))), 6) AS quality_score,
         |  (0.5 + z/(2*(1+abs(z)))) >= 0.5 AS keep,
         |  y = 1.0 AS is_long
         |FROM sc""".stripMargin
    },

    "q264_paragraph_dedup" ->
      paragraphDedupSql(graft.queries.TextQueries.ParagraphTokens),
    // q265 runs the HASHED engine path against the same exact-string
    // SQL: the oracle never hashes, so the gate proves output parity
    "q265_paragraph_dedup_hashed" ->
      paragraphDedupSql(graft.queries.TextQueries.ParagraphTokens),
    "q137_bpe_encode" -> bpeEncodeSql(graft.queries.TextQueries.BpeMerges),
    "q134_bpe_merges" -> bpeMergesSql(graft.queries.TextQueries.BpeMerges),
    "q69_heavy_hitters" ->
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |toks AS (SELECT unnest(tk) AS token FROM tok0),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks)
         |SELECT token, COUNT(*) AS n,
         |  ROUND(CAST(COUNT(*) AS DOUBLE) /
         |        (SELECT CAST(n_tok AS DOUBLE) FROM tot), 6) AS frac
         |FROM toks GROUP BY token
         |HAVING COUNT(*) >=
         |  CAST(ceil((SELECT n_tok FROM tot) * 0.02) AS BIGINT)""".stripMargin,

    "q70_bigram_topk" ->
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |bg AS (SELECT tk[u.i] || ' ' || tk[u.i + 1] AS bigram
         |       FROM tok0, LATERAL (SELECT unnest(
         |         generate_series(1, len(tk) - 1)) AS i) u)
         |SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
         |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,

    // PMI collocations: unigram/bigram counts + corpus totals, lift as
    // one double expression with the op order mirrored from the Spark
    // side (c_ab·N_tok·N_tok / (c_a·c_b·N_big)), support floor 5
    "q112_pmi_bigrams" ->
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |tot AS (SELECT CAST(SUM(len(tk)) AS BIGINT) AS n_tok,
         |          CAST(SUM(greatest(len(tk) - 1, 0)) AS BIGINT) AS n_big
         |        FROM tok0),
         |uc AS (SELECT w, COUNT(*) AS c
         |       FROM (SELECT unnest(tk) AS w FROM tok0) GROUP BY w),
         |bg AS (SELECT tk[u.i] AS w1, tk[u.i + 1] AS w2
         |       FROM tok0, LATERAL (SELECT unnest(
         |         generate_series(1, len(tk) - 1)) AS i) u),
         |bc AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY w1, w2),
         |j AS (SELECT w1 || ' ' || w2 AS bigram, c_ab,
         |        ca.c AS c_a, cb.c AS c_b
         |      FROM bc JOIN uc ca ON ca.w = bc.w1
         |      JOIN uc cb ON cb.w = bc.w2
         |      WHERE c_ab >= ${TextQueries.MinPairCount})
         |SELECT bigram, CAST(c_ab AS BIGINT) AS n,
         |  ROUND(CAST(c_ab AS DOUBLE) * n_tok * n_tok
         |    / (CAST(c_a AS DOUBLE) * c_b * n_big), 6) AS lift
         |FROM j CROSS JOIN tot
         |ORDER BY lift DESC, bigram ASC LIMIT 20""".stripMargin,

    // length buckets: smallest power-of-two bucket per length histogram
    // row (13-row dim, min qualifying bucket), padding waste per bucket
    "q121_length_buckets" ->
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |lens AS (SELECT CAST(len(tk) AS BIGINT) AS n_tok,
         |           CAST(COUNT(*) AS BIGINT) AS n_docs
         |         FROM tok0 WHERE len(tk) >= 1 GROUP BY 1),
         |dim AS (SELECT unnest([${(0 to 12).map(1 << _).mkString(", ")}])
         |          AS bucket),
         |asg AS (SELECT n_tok, n_docs, MIN(bucket) AS bucket
         |        FROM lens JOIN dim ON n_tok <= bucket
         |          OR (bucket = 4096 AND n_tok > 4096)
         |        GROUP BY 1, 2),
         |eff AS (SELECT bucket, n_docs, n_tok,
         |          greatest(CAST(bucket AS BIGINT), n_tok) AS eff_bucket
         |        FROM asg),
         |agg AS (SELECT bucket, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         |          CAST(SUM(n_tok * n_docs) AS BIGINT) AS n_tokens,
         |          CAST(SUM(eff_bucket * n_docs) AS BIGINT) AS slots
         |        FROM eff GROUP BY 1)
         |SELECT bucket, n_docs, n_tokens,
         |  ROUND(CAST(slots - n_tokens AS DOUBLE) / slots, 6)
         |    AS padding_frac
         |FROM agg""".stripMargin,

    // vocab coverage curve: cumulative token-mass share of the top-k
    // types at power-of-two k — top-1024 selection, then a tiny window
    "q117_vocab_coverage" ->
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |tc AS (SELECT w, COUNT(*) AS c
         |       FROM (SELECT unnest(tk) AS w FROM tok0) GROUP BY w),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM tc),
         |topk AS (SELECT w, c FROM tc ORDER BY c DESC, w ASC LIMIT 1024),
         |r AS (SELECT CAST(row_number() OVER
         |          (ORDER BY c DESC, w ASC) AS INT) AS k,
         |        CAST(SUM(c) OVER (ORDER BY c DESC, w ASC) AS BIGINT)
         |          AS mass
         |      FROM topk)
         |SELECT k, mass, ROUND(CAST(mass AS DOUBLE) / tot, 6) AS mass_frac
         |FROM r CROSS JOIN tot
         |WHERE (k & (k - 1)) = 0""".stripMargin,

    // curriculum quartiles: quantile_cont boundaries (same linear
    // interpolation as Spark's exact percentile), bucket = boundary
    // comparison sum
    "q115_curriculum" ->
      """WITH b AS (SELECT quantile_cont(n_chars, 0.25) AS b1,
        |             quantile_cont(n_chars, 0.5) AS b2,
        |             quantile_cont(n_chars, 0.75) AS b3
        |           FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(n_chars > b1 AS INT) + CAST(n_chars > b2 AS INT)
        |    + CAST(n_chars > b3 AS INT) AS bucket
        |FROM documents CROSS JOIN b""".stripMargin,

    // per-source cap: keep top-10 per source by (n_chars desc, doc_id)
    "q116_source_cap" ->
      s"""SELECT doc_id, source, rk FROM (
         |  SELECT doc_id, source, CAST(row_number() OVER (
         |      PARTITION BY source
         |      ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rk
         |  FROM documents) z
         |WHERE rk <= ${TextQueries.SourceCap}""".stripMargin,

    "q71_postings" ->
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |toks AS (SELECT doc_id, unnest(tk) AS token FROM tok0),
         |pd AS (SELECT token, doc_id, COUNT(*) AS tf
         |       FROM toks GROUP BY token, doc_id),
         |r AS (SELECT token, doc_id, tf, row_number() OVER
         |        (PARTITION BY token ORDER BY doc_id) AS rn FROM pd)
         |SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq,
         |  CAST(SUM(tf) AS BIGINT) AS term_freq,
         |  array_to_string(
         |    list(CAST(doc_id AS VARCHAR) ORDER BY doc_id)
         |      FILTER (WHERE rn <= 5), ',') AS sample_docs
         |FROM r GROUP BY token""".stripMargin,

    "q72_normalize" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_raw,
        |  CAST(length(n) AS BIGINT) AS n_norm,
        |  substr(n, 1, 48) AS norm_prefix
        |FROM (SELECT doc_id, text, trim(regexp_replace(
        |        lower(strip_accents(text)), '\s+', ' ', 'g')) AS n
        |      FROM documents) t""".stripMargin,

    "q73_redact" ->
      """SELECT event_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    props || ' uid=' || CAST(user_id AS VARCHAR),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '[0-9]{2,}', '<NUM>', 'g') AS redacted
        |FROM events""".stripMargin,

    "q74_histogram" ->
      """WITH b AS (SELECT least(20, greatest(0,
        |    CAST(floor((l_extendedprice - 900.0) / 5000.0) AS BIGINT))) AS bin
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice))
        |SELECT bin, COUNT(*) AS n,
        |  CAST(900.0 + bin * 5000.0 AS DOUBLE) AS bin_lo,
        |  CAST(900.0 + (bin + 1) * 5000.0 AS DOUBLE) AS bin_hi
        |FROM b GROUP BY bin""".stripMargin,

    "q20_exact_dup_stats" ->
      s"""SELECT lang, ${H("text")} % 10 AS bucket, COUNT(*) AS n_docs
         |FROM documents GROUP BY lang, bucket""".stripMargin,

    "q21_exact_dedup" ->
      s"""SELECT ${H("text")} AS content_hash, MIN(doc_id) AS keep_doc_id,
         |  COUNT(*) AS n_copies
         |FROM documents GROUP BY content_hash""".stripMargin,

    "q22_token_counts" ->
      s"""SELECT doc_id, CAST(len($Tk) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents""".stripMargin,

    "q23_quality_score" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  ROUND(CASE WHEN len(tk) = 0 THEN 0.0
         |        ELSE CAST(length(text) AS DOUBLE) / len(tk) END, 6) AS chars_per_token,
         |  ROUND(CASE WHEN len(tk) = 0 THEN 0.0
         |        ELSE CAST(len(list_filter(tk, t -> t IN ($stopwords))) AS DOUBLE) / len(tk) END, 6) AS stopword_ratio,
         |  ROUND(CASE WHEN length(text) = 0 THEN 0.0
         |        ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
         |             / length(text) END, 6) AS punct_ratio
         |FROM (SELECT doc_id, text, $Tk AS tk FROM documents) t""".stripMargin,

    "q24_lang_id" -> {
      val markerValues = graft.ops.TextOps.LangMarkers
        .flatMap { case (l, ws) => ws.map(w => s"('$l', '$w')") }
        .mkString(", ")
      val fallback = graft.ops.TextOps.LangMarkers.head._1
      s"""WITH tok AS (SELECT doc_id, unnest($Tk) AS tok FROM documents),
         |m(lang_m, w) AS (SELECT * FROM (VALUES $markerValues) v),
         |hits AS (SELECT t.doc_id, m.lang_m, COUNT(*) AS n_hits
         |         FROM tok t JOIN m ON t.tok = m.w
         |         GROUP BY t.doc_id, m.lang_m),
         |best AS (SELECT doc_id, lang_m,
         |           row_number() OVER (PARTITION BY doc_id
         |             ORDER BY n_hits DESC, lang_m ASC) AS rn
         |         FROM hits)
         |SELECT d.lang, COALESCE(b.lang_m, '$fallback') AS lang_guess,
         |  COUNT(*) AS n
         |FROM documents d
         |LEFT JOIN (SELECT doc_id, lang_m FROM best WHERE rn = 1) b
         |  ON d.doc_id = b.doc_id
         |GROUP BY d.lang, lang_guess""".stripMargin
    },

    "q25_fingerprint" ->
      s"""SELECT doc_id, ${H("text")} AS content_hash,
         |  ${H("substr(text, 1, 64)")} AS prefix_hash
         |FROM documents""".stripMargin,

    "q26_minhash_sig" ->
      s"""$MinhashCtes
         |SELECT doc_id, CAST(SUM(mh) AS BIGINT) AS sig_sum,
         |  MIN(mh) AS sig_min
         |FROM mh GROUP BY doc_id""".stripMargin,

    // KMV bottom-k distinct sketch, replayed set-theoretically: the k-th
    // smallest distinct hash per group via row_number, estimate in pure
    // BIGINT math ((k-1)·Mod // h_k) — identical to Kmv.finish
    "q128_kmv_distinct" -> {
      val k = TextQueries.KmvK
      s"""WITH tok0 AS (SELECT lang, $Tk AS tk FROM documents),
         |t AS (SELECT lang, unnest(tk) AS tok FROM tok0),
         |hh AS (SELECT lang, ${H("tok")} AS h FROM t),
         |g AS (SELECT lang, h FROM hh
         |      UNION ALL SELECT 'ALL' AS lang, h FROM hh),
         |d AS (SELECT DISTINCT lang, h FROM g),
         |r AS (SELECT lang, h,
         |        row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
         |        COUNT(*) OVER (PARTITION BY lang) AS nd
         |      FROM d)
         |SELECT lang,
         |  CASE WHEN nd >= $k THEN h END AS kth_hash,
         |  CAST(LEAST(nd, $k) AS INT) AS n_kept,
         |  CASE WHEN nd >= $k
         |       THEN CAST(${k - 1} AS BIGINT) * 1000000007
         |            // GREATEST(h, 1)
         |       ELSE nd END AS est_distinct
         |FROM r WHERE rn = LEAST(nd, $k)""".stripMargin
    },

    // temperature mix: integer sqrt-scale weights + largest-remainder
    // seats, mirroring Sampling.temperatureMix step for step
    "q129_temperature_mix" -> {
      val t = TextQueries.MixTotal
      s"""WITH c AS (SELECT lang AS stratum, COUNT(*) AS n_docs
         |           FROM documents GROUP BY 1),
         |w AS (SELECT stratum, n_docs,
         |        CAST(floor(sqrt(CAST(n_docs * 1000000 AS DOUBLE)))
         |          AS BIGINT) AS weight
         |      FROM c),
         |x AS (SELECT stratum, n_docs, weight,
         |        ($t * weight) // SUM(weight) OVER () AS base,
         |        ($t * weight) % SUM(weight) OVER () AS rem
         |      FROM w),
         |y AS (SELECT stratum, n_docs, weight, base,
         |        $t - SUM(base) OVER () AS leftover,
         |        row_number() OVER (ORDER BY rem DESC, stratum ASC) AS rk
         |      FROM x)
         |SELECT stratum, n_docs, weight,
         |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
         |    AS BIGINT) AS alloc
         |FROM y""".stripMargin
    },

    // containment: q28's candidate chain, scored asymmetrically
    "q131_containment" ->
      s"""$MinhashCtes,
         |bands AS (SELECT doc_id, i // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_sig
         |          FROM mh GROUP BY doc_id, i // 4),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.band_sig = b.band_sig
         |           AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shx GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
         |          FROM pairs p
         |          JOIN shx sa ON sa.doc_id = p.doc_a
         |          JOIN shx sb ON sb.doc_id = p.doc_b AND sa.h = sb.h
         |          GROUP BY p.doc_a, p.doc_b)
         |SELECT i.doc_a, i.doc_b, i.inter, za.sz AS sz_a, zb.sz AS sz_b,
         |  ROUND(CAST(i.inter AS DOUBLE) / za.sz, 6) AS cont_a,
         |  ROUND(CAST(i.inter AS DOUBLE) / zb.sz, 6) AS cont_b
         |FROM inter i
         |JOIN sizes za ON za.doc_id = i.doc_a
         |JOIN sizes zb ON zb.doc_id = i.doc_b
         |WHERE GREATEST(CAST(i.inter AS DOUBLE) / za.sz,
         |               CAST(i.inter AS DOUBLE) / zb.sz)
         |      >= ${TextQueries.ContainmentMin}""".stripMargin,

    // prefix dedup: hash of the first-P-token prefix, group stats per doc
    "q132_prefix_dedup" -> {
      val p = TextQueries.PrefixTokens
      s"""WITH t AS (SELECT doc_id, $Tk AS tk FROM documents),
         |pr AS (SELECT doc_id,
         |         array_to_string(tk[1:$p], ' ') AS pre,
         |         ${H(s"array_to_string(tk[1:$p], ' ')")} AS prefix_hash
         |       FROM t)
         |SELECT doc_id, prefix_hash,
         |  COUNT(*) OVER (PARTITION BY pre) AS group_n,
         |  MIN(doc_id) OVER (PARTITION BY pre) AS rep,
         |  doc_id = MIN(doc_id) OVER (PARTITION BY pre) AS is_kept
         |FROM pr""".stripMargin
    },

    // golden record over the q132 prefix clusters (2+ members): modal
    // value per attribute, ties by (count desc, value asc) — the window
    // ORDER BY is total because v is unique within (cluster, attr)
    "q242_golden_record" -> {
      val p = TextQueries.PrefixTokens
      s"""WITH t AS (SELECT doc_id, lang, source, n_chars, $Tk AS tk
         |       FROM documents),
         |pr AS (SELECT doc_id, lang, source, n_chars,
         |         array_to_string(tk[1:$p], ' ') AS pre
         |       FROM t),
         |g AS (SELECT *,
         |        COUNT(*) OVER (PARTITION BY pre) AS group_n,
         |        MIN(doc_id) OVER (PARTITION BY pre) AS rep
         |      FROM pr),
         |c AS (SELECT rep AS cluster, lang, source, n_chars
         |      FROM g WHERE group_n > 1),
         |m AS (SELECT cluster, 'lang' AS attr, CAST(lang AS VARCHAR) AS v
         |        FROM c WHERE lang IS NOT NULL
         |      UNION ALL
         |      SELECT cluster, 'source', CAST(source AS VARCHAR)
         |        FROM c WHERE source IS NOT NULL
         |      UNION ALL
         |      SELECT cluster, 'n_chars', CAST(n_chars AS VARCHAR)
         |        FROM c WHERE n_chars IS NOT NULL),
         |v AS (SELECT cluster, attr, v, COUNT(*) AS cnt
         |      FROM m GROUP BY cluster, attr, v),
         |r AS (SELECT cluster, attr, v, cnt,
         |        row_number() OVER (PARTITION BY cluster, attr
         |          ORDER BY cnt DESC, v ASC) AS rn,
         |        SUM(cnt) OVER (PARTITION BY cluster, attr) AS nn
         |      FROM v)
         |SELECT cluster, attr, v AS canonical,
         |  CAST(cnt AS BIGINT) AS support, CAST(nn AS BIGINT) AS n_nonnull
         |FROM r WHERE rn = 1""".stripMargin
    },

    // rule-bundle filter: every rule a scalar over the token array;
    // thresholds inside the corpus' observed range (tokens 10..99,
    // chars/token 4.7..6.2, max token len ≤ 8) so the flags split it
    "q136_filter_rules" ->
      s"""WITH t AS (SELECT doc_id, text, $Tk AS tk FROM documents),
         |f AS (SELECT doc_id, len(tk) AS nt,
         |        CASE WHEN len(tk) = 0 THEN 0.0
         |             ELSE CAST(length(text) AS DOUBLE) / len(tk)
         |        END AS cpt,
         |        CASE WHEN length(text) = 0 THEN 0.0
         |             ELSE CAST(length(text) - length(regexp_replace(
         |                    text, '[[:punct:]]', '', 'g')) AS DOUBLE)
         |                  / length(text) END AS pr,
         |        list_max(list_transform(tk, x -> length(x))) AS mt
         |      FROM t)
         |SELECT doc_id, nt >= 30 AS r_len, cpt <= 6.0 AS r_wordlen,
         |  pr <= 0.2 AS r_punct, mt <= 6 AS r_maxtok,
         |  (nt >= 30 AND cpt <= 6.0 AND pr <= 0.2 AND mt <= 6) AS pass
         |FROM f""".stripMargin,

    // triangles over the q28 verified-pair chain; pairs carry a < b so
    // (v1 < v2 < v3) enumerates once
    "q141_dup_triangles" ->
      s"""$MinhashCtes,
         |bands AS (SELECT doc_id, i // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_sig
         |          FROM mh GROUP BY doc_id, i // 4),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.band_sig = b.band_sig
         |           AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shx GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
         |          FROM pairs p
         |          JOIN shx sa ON sa.doc_id = p.doc_a
         |          JOIN shx sb ON sb.doc_id = p.doc_b AND sa.h = sb.h
         |          GROUP BY p.doc_a, p.doc_b),
         |v AS (SELECT i.doc_a, i.doc_b
         |      FROM inter i
         |      JOIN sizes za ON za.doc_id = i.doc_a
         |      JOIN sizes zb ON zb.doc_id = i.doc_b
         |      WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter)
         |            >= 0.3)
         |SELECT ab.doc_a AS v1, ab.doc_b AS v2, bc.doc_b AS v3
         |FROM v ab
         |JOIN v bc ON bc.doc_a = ab.doc_b
         |JOIN v ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b""".stripMargin,

    // grouped split: q57's recursive component chain keys the q92 hash
    "q148_grouped_split" ->
      s"""${MinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |bands AS (SELECT doc_id, i // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_sig
         |          FROM mh GROUP BY doc_id, i // 4),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.band_sig = b.band_sig
         |           AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shx GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
         |          FROM pairs p
         |          JOIN shx sa ON sa.doc_id = p.doc_a
         |          JOIN shx sb ON sb.doc_id = p.doc_b AND sa.h = sb.h
         |          GROUP BY p.doc_a, p.doc_b),
         |verified AS (SELECT i.doc_a, i.doc_b
         |             FROM inter i
         |             JOIN sizes za ON za.doc_id = i.doc_a
         |             JOIN sizes zb ON zb.doc_id = i.doc_b
         |             WHERE CAST(i.inter AS DOUBLE)
         |                   / (za.sz + zb.sz - i.inter) >= 0.3),
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM verified
         |          UNION ALL
         |          SELECT doc_b AS s, doc_a AS d FROM verified),
         |reach AS (SELECT s AS id, s AS lab FROM edges
         |          UNION
         |          SELECT e.d AS id, r.lab
         |          FROM reach r JOIN edges e ON e.s = r.id),
         |ccx AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
         |k AS (SELECT d.doc_id,
         |        COALESCE(ccx.cluster_id, d.doc_id) AS split_key
         |      FROM documents d LEFT JOIN ccx ON ccx.id = d.doc_id)
         |SELECT doc_id, split_key,
         |  CASE WHEN hv < 800000 THEN 'train'
         |       WHEN hv < 900000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, split_key,
         |        (${H("CAST(split_key AS VARCHAR) || '#7'")}
         |         * 2654435761 % 1000000007) % 1000000 AS hv
         |      FROM k) t""".stripMargin,

    // drift: deciles from the OLD version's quantile_cont (same
    // interpolation as Spark's percentile), int > double comparisons
    "q146_dist_drift" -> {
      val bs = (1 to 9).map(i =>
        s"quantile_cont(v, 0.$i) AS b$i").mkString(", ")
      val bucket = (1 to 9).map(i => s"CAST(v > b$i AS BIGINT)")
        .mkString(" + ")
      s"""WITH o AS (SELECT length(text) AS v FROM documents
         |           WHERE doc_id < 450),
         |nw AS (SELECT length(CASE WHEN doc_id % 7 = 0
         |                 THEN text || ' EDITED' ELSE text END) AS v
         |       FROM documents WHERE doc_id >= 50),
         |b AS (SELECT $bs FROM o),
         |oc AS (SELECT $bucket AS bucket, COUNT(*) AS n_old
         |       FROM o CROSS JOIN b GROUP BY 1),
         |nc AS (SELECT $bucket AS bucket, COUNT(*) AS n_new
         |       FROM nw CROSS JOIN b GROUP BY 1),
         |j AS (SELECT COALESCE(oc.bucket, nc.bucket) AS bucket,
         |        COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
         |      FROM oc FULL OUTER JOIN nc ON nc.bucket = oc.bucket)
         |SELECT bucket, CAST(n_old AS BIGINT) AS n_old,
         |  CAST(n_new AS BIGINT) AS n_new,
         |  ROUND(CAST(n_old AS DOUBLE) / SUM(n_old) OVER (), 6)
         |    AS share_old,
         |  ROUND(CAST(n_new AS DOUBLE) / SUM(n_new) OVER (), 6)
         |    AS share_new,
         |  ROUND(abs(CAST(n_old AS DOUBLE) / SUM(n_old) OVER ()
         |          - CAST(n_new AS DOUBLE) / SUM(n_new) OVER ()) / 2, 6)
         |    AS tv_contrib
         |FROM j""".stripMargin
    },

    // negative pairs: seeded shuffle order within hash shards, partner =
    // next rank (wrapping); mirrors Sampling.sampleHash exactly
    "q145_negative_pairs" ->
      s"""WITH b AS (SELECT doc_id,
         |             (${H("CAST(doc_id AS VARCHAR) || '#11'")}
         |              * 2654435761 % 1000000007) % 1000000 AS h
         |           FROM documents),
         |s AS (SELECT doc_id, h, CAST(h % 16 AS INT) AS shard FROM b),
         |r AS (SELECT doc_id, h, shard,
         |        row_number() OVER (PARTITION BY shard
         |                           ORDER BY h, doc_id) AS rn,
         |        COUNT(*) OVER (PARTITION BY shard) AS cnt
         |      FROM s)
         |SELECT a.doc_id, p.doc_id AS partner_id, a.shard
         |FROM r a JOIN r p
         |  ON p.shard = a.shard AND p.rn = a.rn % a.cnt + 1
         |WHERE a.doc_id <> p.doc_id""".stripMargin,

    // scan-side adjacent-phrase count via 1-based list indexing
    "q143_phrase_search" -> {
      val (a, b) = (TextQueries.PhraseA, TextQueries.PhraseB)
      s"""WITH t AS (SELECT doc_id, $Tk AS tk FROM documents)
         |SELECT doc_id,
         |  CAST(len(list_filter(range(1, len(tk)),
         |    i -> tk[i] = '$a' AND tk[i + 1] = '$b')) AS INT) AS n_hits
         |FROM t
         |WHERE len(list_filter(range(1, len(tk)),
         |    i -> tk[i] = '$a' AND tk[i + 1] = '$b')) > 0""".stripMargin
    },

    // fractional contamination: corpus-side distinct spans vs the
    // benchmark-slice span set (q96's split, score instead of gate)
    "q144_contamination_frac" -> {
      val corpusCtes = shingleTextCtesBody(TextQueries.ShingleN,
        "(SELECT * FROM documents WHERE doc_id % 20 <> 0)")
      // prefix the CTE names (word-bounded: plain .replace of "th"
      // would also mangle "length")
      val benchCtes = Seq("tok0", "tokx", "th", "shl", "win", "stx")
        .foldLeft(shingleTextCtesBody(TextQueries.ShingleN,
          "(SELECT * FROM documents WHERE doc_id % 20 = 0)")) {
          (sql, name) => sql.replaceAll(s"\\b$name\\b", "b" + name)
        }
      // numerator text-verified (mirrors qContaminationFrac);
      // denominator = the doc's own distinct-hash span count
      s"""WITH $corpusCtes,
         |$benchCtes,
         |bh AS (SELECT DISTINCT h, st FROM bstx),
         |cx AS (SELECT DISTINCT doc_id, h, st FROM stx),
         |sizes AS (SELECT doc_id, COUNT(DISTINCT h) AS n_spans
         |          FROM cx GROUP BY doc_id),
         |matched AS (SELECT s.doc_id, COUNT(DISTINCT s.h) AS n_matched
         |            FROM cx s JOIN bh ON bh.h = s.h AND bh.st = s.st
         |            GROUP BY s.doc_id)
         |SELECT z.doc_id, z.n_spans,
         |  COALESCE(m.n_matched, 0) AS n_matched,
         |  ROUND(CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / z.n_spans, 6)
         |    AS frac
         |FROM sizes z LEFT JOIN matched m ON m.doc_id = z.doc_id""".stripMargin
    },

    // snapshot diff: the oracle compares text directly where the engine
    // compares framed xxhash64 digests — identical statuses barring a
    // 64-bit collision
    "q138_snapshot_diff" ->
      s"""WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id < 450),
         |n AS (SELECT doc_id,
         |        CASE WHEN doc_id % 7 = 0 THEN text || ' EDITED'
         |             ELSE text END AS text
         |      FROM documents WHERE doc_id >= 50)
         |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       WHEN o.text = n.text THEN 'unchanged'
         |       ELSE 'changed' END AS status
         |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,

    "q139_diff_summary" ->
      s"""WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id < 450),
         |n AS (SELECT doc_id,
         |        CASE WHEN doc_id % 7 = 0 THEN text || ' EDITED'
         |             ELSE text END AS text
         |      FROM documents WHERE doc_id >= 50),
         |d AS (SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
         |               WHEN n.doc_id IS NULL THEN 'removed'
         |               WHEN o.text = n.text THEN 'unchanged'
         |               ELSE 'changed' END AS status
         |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT status, COUNT(*) AS n FROM d GROUP BY status""".stripMargin,

    // per-source quality CDF: percent_rank over the RAW ratio (rounding
    // only at output, as the Spark side does)
    "q133_quality_cdf" ->
      s"""WITH f AS (SELECT doc_id, source,
         |             CASE WHEN len(tk) = 0 THEN 0.0
         |                  ELSE CAST(len(list_filter(tk,
         |                         t -> t IN ($stopwords))) AS DOUBLE)
         |                       / len(tk) END AS sr
         |           FROM (SELECT doc_id, source, $Tk AS tk
         |                 FROM documents) t)
         |SELECT doc_id, source, ROUND(sr, 6) AS stopword_ratio,
         |  ROUND(percent_rank() OVER (PARTITION BY source ORDER BY sr), 6)
         |    AS cdf
         |FROM f""".stripMargin,

    "q27_lsh_candidates" ->
      s"""$MinhashCtes,
         |bands AS (SELECT doc_id, i // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_sig
         |          FROM mh GROUP BY doc_id, i // 4)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  COUNT(*) AS n_shared_bands
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_sig = b.band_sig
         | AND a.doc_id < b.doc_id
         |GROUP BY doc_a, doc_b""".stripMargin,

    "q28_neardup_verified" ->
      s"""$MinhashCtes,
         |bands AS (SELECT doc_id, i // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_sig
         |          FROM mh GROUP BY doc_id, i // 4),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.band_sig = b.band_sig
         |           AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shx GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
         |          FROM pairs p
         |          JOIN shx sa ON sa.doc_id = p.doc_a
         |          JOIN shx sb ON sb.doc_id = p.doc_b AND sa.h = sb.h
         |          GROUP BY p.doc_a, p.doc_b)
         |SELECT i.doc_a, i.doc_b, i.inter,
         |  ROUND(CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter), 6) AS jaccard
         |FROM inter i
         |JOIN sizes za ON za.doc_id = i.doc_a
         |JOIN sizes zb ON zb.doc_id = i.doc_b
         |WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) >= 0.3""".stripMargin,

    // jump consistent hash, replayed as a recursive CTE: HUGEINT mod
    // 2^64 emulates the uint64 LCG wrap, // 2^33 is the unsigned shift,
    // floor() matches the positive-value int64 cast; one CTE per bucket
    // count, joined to count movers on resize 64 -> 65
    "q127_consistent_shard" -> {
      def jh(name: String, n: Int) =
        s"""$name AS (
           |  SELECT doc_id, CAST(doc_id AS HUGEINT) AS k,
           |    CAST(-1 AS BIGINT) AS b, CAST(0 AS BIGINT) AS j
           |  FROM documents
           |  UNION ALL
           |  SELECT doc_id, nk, nb,
           |    CAST(floor((nb + 1) * (2147483648.0 /
           |      CAST((nk // 8589934592) + 1 AS DOUBLE))) AS BIGINT)
           |  FROM (SELECT doc_id,
           |          (k * 2862933555777941757 + 1)
           |            % 18446744073709551616 AS nk,
           |          j AS nb
           |        FROM $name WHERE j < $n) t
           |)""".stripMargin
      s"""WITH RECURSIVE ${jh("jh64", 64)},
         |${jh("jh65", 65)},
         |f64 AS (SELECT doc_id, b AS s64 FROM jh64 WHERE j >= 64),
         |f65 AS (SELECT doc_id, b AS s65 FROM jh65 WHERE j >= 65)
         |SELECT s64 AS shard, COUNT(*) AS n_docs,
         |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
         |  CAST(SUM(CASE WHEN s65 <> s64 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_moved
         |FROM f64 JOIN f65 USING (doc_id)
         |GROUP BY s64""".stripMargin
    },

    // rank-based robust stats: row_number + group-count window, 5% trim
    // by rank, median = mean of the 1-2 middle ranks, decimal sums
    "q126_robust_stats" ->
      """WITH ranked AS (SELECT source, n_chars AS v,
        |  row_number() OVER (PARTITION BY source
        |                     ORDER BY n_chars, doc_id) AS r,
        |  COUNT(*) OVER (PARTITION BY source) AS n FROM documents)
        |SELECT source, COUNT(*) AS n_rows,
        |  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE)
        |    / COUNT(*), 6) AS mean,
        |  ROUND(CAST(SUM(CASE WHEN r > n // 20 AND r <= n - n // 20
        |      THEN CAST(v AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / SUM(CASE WHEN r > n // 20 AND r <= n - n // 20
        |      THEN 1 END), 6) AS trimmed_mean,
        |  CAST(SUM(CASE WHEN r = (n + 1) // 2 OR r = (n + 2) // 2
        |      THEN CAST(v AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / SUM(CASE WHEN r = (n + 1) // 2 OR r = (n + 2) // 2
        |      THEN 1 END) AS median
        |FROM ranked GROUP BY source""".stripMargin,

    // cross-split leakage: the q28 verified pairs with the q92 split
    // hash applied to both endpoints, keeping split-straddling rows
    "q125_split_leakage" -> {
      def sp(c: String) =
        s"""CASE WHEN (${H(s"CAST($c AS VARCHAR) || '#7'")}
           |      * 2654435761 % 1000000007) % 1000000 < 800000 THEN 'train'
           |     WHEN (${H(s"CAST($c AS VARCHAR) || '#7'")}
           |      * 2654435761 % 1000000007) % 1000000 < 900000 THEN 'val'
           |     ELSE 'test' END""".stripMargin
      s"""$MinhashCtes,
         |bands AS (SELECT doc_id, i // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_sig
         |          FROM mh GROUP BY doc_id, i // 4),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.band_sig = b.band_sig
         |           AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shx GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
         |          FROM pairs p
         |          JOIN shx sa ON sa.doc_id = p.doc_a
         |          JOIN shx sb ON sb.doc_id = p.doc_b AND sa.h = sb.h
         |          GROUP BY p.doc_a, p.doc_b),
         |vp AS (SELECT i.doc_a, i.doc_b,
         |         ROUND(CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter), 6) AS jaccard
         |       FROM inter i
         |       JOIN sizes za ON za.doc_id = i.doc_a
         |       JOIN sizes zb ON zb.doc_id = i.doc_b
         |       WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) >= 0.3)
         |SELECT doc_a, doc_b, ${sp("doc_a")} AS split_a,
         |  ${sp("doc_b")} AS split_b, jaccard
         |FROM vp
         |WHERE ${sp("doc_a")} <> ${sp("doc_b")}""".stripMargin
    },

    "q64_incremental_append" -> {
      val punct = "CASE WHEN length(text) = 0 THEN 0.0 ELSE " +
        "CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', " +
        "'', 'g')) AS DOUBLE) / length(text) END"
      s"""WITH corpus AS (SELECT doc_id, text, lang FROM documents
         |               WHERE doc_id >= 100),
         |inc AS (SELECT doc_id, text, lang FROM documents
         |        WHERE doc_id < 100),
         |incq AS (SELECT * FROM inc
         |         WHERE len($Tk) >= 5 AND $punct <= 0.3),
         |inc1 AS (SELECT *, row_number() OVER (PARTITION BY ${H("text")}
         |           ORDER BY doc_id) AS rn FROM incq),
         |inc_exact AS (SELECT doc_id, text, lang FROM inc1
         |              WHERE rn = 1 AND ${H("text")} NOT IN
         |                (SELECT ${H("text")} FROM corpus)),
         |uni AS (SELECT doc_id, text, 'c' AS side FROM corpus
         |        UNION ALL
         |        SELECT doc_id, text, 'i' AS side FROM inc_exact),
         |${shingleCtesBody(3, "uni")},
         |mh AS (SELECT doc_id, i,
         |         MIN(((2654435761 * (i + 1)) % 1000000007 * h
         |              + (2246822519 * (i + 1)) % 1000000007)
         |             % 1000000007) AS mh
         |       FROM shx CROSS JOIN (SELECT unnest(range(0, 16)) AS i) idx
         |       GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_sig
         |          FROM mh GROUP BY doc_id, i // 4),
         |bside AS (SELECT b.doc_id, b.band, b.band_sig, u.side
         |          FROM bands b JOIN uni u USING (doc_id)),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bside a JOIN bside b
         |            ON a.band = b.band AND a.band_sig = b.band_sig
         |          WHERE (a.side = 'c' AND b.side = 'i')
         |             OR (a.side = 'i' AND b.side = 'i'
         |                 AND a.doc_id < b.doc_id)),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shx GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
         |          FROM pairs p
         |          JOIN shx sa ON sa.doc_id = p.doc_a
         |          JOIN shx sb ON sb.doc_id = p.doc_b AND sa.h = sb.h
         |          GROUP BY p.doc_a, p.doc_b),
         |dup AS (SELECT DISTINCT i.doc_b
         |        FROM inter i
         |        JOIN sizes za ON za.doc_id = i.doc_a
         |        JOIN sizes zb ON zb.doc_id = i.doc_b
         |        WHERE CAST(i.inter AS DOUBLE)
         |              / (za.sz + zb.sz - i.inter) >= 0.8)
         |SELECT e.doc_id, e.lang FROM inc_exact e
         |WHERE e.doc_id NOT IN (SELECT doc_b FROM dup)""".stripMargin
    },

    "q66_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |             CAST(len($Tk) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |        SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM t)
         |SELECT doc_id, lang, n_tokens,
         |  CAST((cum - n_tokens) // 8192 AS BIGINT) AS pack_id,
         |  CAST((cum - n_tokens) % 8192 AS BIGINT) AS offset_in_pack
         |FROM c""".stripMargin,

    "q103_pack_manifest" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |             CAST(len($Tk) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |        SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM t),
         |g AS (SELECT doc_id, lang, n_tokens,
         |        CAST(cum - n_tokens AS BIGINT) AS gstart
         |      FROM c WHERE n_tokens > 0),
         |p AS (SELECT doc_id, lang, n_tokens, gstart,
         |        unnest(generate_series(gstart // 8192,
         |          (gstart + n_tokens - 1) // 8192)) AS pack_id
         |      FROM g)
         |SELECT doc_id, lang, CAST(pack_id AS BIGINT) AS pack_id,
         |  CAST(GREATEST(gstart, pack_id * 8192) - gstart AS BIGINT)
         |    AS slice_start,
         |  CAST(LEAST(gstart + n_tokens, (pack_id + 1) * 8192)
         |       - GREATEST(gstart, pack_id * 8192) AS BIGINT) AS slice_len
         |FROM p""".stripMargin,

    // BM25: query-term tf with dl carried from the same token array,
    // query-sized df, one-row corpus stats, per-term 9-rounded scores
    // summed as decimal, global top-k with doc_id tiebreak
    "q107_bm25" -> {
      val terms = TextQueries.Bm25Terms.map(t => s"'$t'").mkString(", ")
      val k1 = 1.2
      val b = 0.75
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |st AS (SELECT COUNT(*) AS nd, SUM(len(tk)) AS ntok FROM tok0),
         |hits AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
         |           unnest(list_filter(tk, t -> t IN ($terms))) AS term
         |         FROM tok0),
         |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf
         |       FROM hits GROUP BY doc_id, dl, term),
         |dfp AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |sc AS (SELECT t.doc_id,
         |         CAST(ROUND(ln((st.nd - d.df + 0.5) / (d.df + 0.5) + 1.0)
         |           * (t.tf * ${k1 + 1.0})
         |           / (t.tf + $k1 * (1.0 - $b + $b * t.dl * st.nd
         |                            / st.ntok)), 9)
         |           AS DECIMAL(18,9)) AS s
         |       FROM tf t JOIN dfp d USING (term) CROSS JOIN st),
         |agg AS (SELECT doc_id, CAST(ROUND(SUM(s), 6) AS DOUBLE) AS score
         |        FROM sc GROUP BY doc_id)
         |SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
         |    AS INTEGER) AS rank, score
         |FROM agg ORDER BY score DESC, doc_id ASC
         |LIMIT ${TextQueries.Bm25K}""".stripMargin
    },

    // DSIR importance weights: hashed unigram+bigram features into 4096
    // buckets, add-one-smoothed target ('en') and raw bucket models,
    // per-doc decimal sum of 9-rounded bucket log ratios
    "q106_dsir_weights" -> {
      val nB = TextQueries.DsirBuckets
      s"""WITH tok0 AS (SELECT doc_id, lang, $Tk AS tk FROM documents),
         |ne AS (SELECT doc_id, lang, tk FROM tok0 WHERE len(tk) >= 1),
         |feats AS (SELECT doc_id, lang, unnest(list_concat(
         |    list_transform(tk, t -> ${H("t")} % $nB),
         |    CASE WHEN len(tk) >= 2 THEN
         |      list_transform(range(1, len(tk)), i ->
         |        ((${H("tk[i]")} * 31 + ${H("tk[i+1]")})
         |         % 1000000007) % $nB)
         |    ELSE CAST([] AS BIGINT[]) END)) AS b
         |  FROM ne),
         |rm AS (SELECT b, COUNT(*) AS c FROM feats GROUP BY b),
         |tm AS (SELECT b, COUNT(*) AS tc FROM feats
         |       WHERE lang = 'en' GROUP BY b),
         |rn AS (SELECT SUM(c) AS nr FROM rm),
         |tn AS (SELECT SUM(tc) AS nt FROM tm),
         |lr AS (SELECT rm.b,
         |         CAST(ROUND(ln((COALESCE(tm.tc, 0) + 1.0) / (tn.nt + $nB))
         |                  - ln((rm.c + 1.0) / (rn.nr + $nB)), 9)
         |           AS DECIMAL(18,9)) AS lrat
         |       FROM rm LEFT JOIN tm ON rm.b = tm.b
         |         CROSS JOIN tn CROSS JOIN rn)
         |SELECT f.doc_id, COUNT(*) AS n_features,
         |  ROUND(CAST(SUM(lr.lrat) AS DOUBLE) / COUNT(*), 6)
         |    AS avg_logratio
         |FROM feats f JOIN lr ON f.b = lr.b GROUP BY f.doc_id""".stripMargin
    },

    // deterministic shuffle-shard: the sampleHash family (polyHash of
    // "id#seed", Knuth remix) as shuffle key; shard = key mod 64, pos =
    // rank within shard by (key, doc_id)
    "q108_shuffle_shard" -> {
      val seed = TextQueries.ShardSeed
      val n = TextQueries.ShardN
      s"""WITH rk AS (SELECT doc_id,
         |  (${H(s"CAST(doc_id AS VARCHAR) || '#$seed'")} * 2654435761)
         |    % 1000000007 AS rk
         |  FROM documents)
         |SELECT doc_id, CAST(rk % $n AS INTEGER) AS shard,
         |  CAST(row_number() OVER (PARTITION BY rk % $n
         |         ORDER BY rk, doc_id) - 1 AS BIGINT) AS pos
         |FROM rk""".stripMargin
    },

    // token-budget mix: per-source token sums, weight normalized over
    // present strata, floor(budget*w/tw) allocation, epochs ratio —
    // double steps in the same association order as the Spark side
    "q109_token_budget" -> {
      val cases = TextQueries.MixWeights.map { case (k, v) =>
        s"WHEN '$k' THEN $v" }.mkString(" ")
      s"""WITH tok0 AS (SELECT source, $Tk AS tk FROM documents),
         |ps AS (SELECT source, COUNT(*) AS n_docs,
         |         CAST(SUM(len(tk)) AS BIGINT) AS avail_tokens
         |       FROM tok0 GROUP BY source),
         |pw AS (SELECT *, CASE source $cases
         |         ELSE ${TextQueries.MixDefaultW} END AS w FROM ps),
         |tw AS (SELECT SUM(w) AS tw FROM pw),
         |alloc AS (SELECT source, n_docs, avail_tokens,
         |            ROUND(w / tw, 6) AS weight,
         |            CAST(FLOOR(${TextQueries.MixBudget}.0 * w / tw)
         |              AS BIGINT) AS target_tokens
         |          FROM pw CROSS JOIN tw)
         |SELECT *, CASE WHEN avail_tokens > 0 THEN
         |    ROUND(CAST(target_tokens AS DOUBLE) / avail_tokens, 6)
         |  END AS epochs
         |FROM alloc""".stripMargin
    },

    // cross-source duplication matrix: the q28 verified-pair cascade,
    // pairs joined to doc sources, orientation-normalized source cells,
    // decimal-summed 6-rounded jaccard average
    "q111_dup_source_matrix" ->
      s"""$MinhashCtes,
         |bands AS (SELECT doc_id, i // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_sig
         |          FROM mh GROUP BY doc_id, i // 4),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.band_sig = b.band_sig
         |           AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shx GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
         |          FROM pairs p
         |          JOIN shx sa ON sa.doc_id = p.doc_a
         |          JOIN shx sb ON sb.doc_id = p.doc_b AND sa.h = sb.h
         |          GROUP BY p.doc_a, p.doc_b),
         |ver AS (SELECT i.doc_a, i.doc_b,
         |          CAST(ROUND(CAST(i.inter AS DOUBLE)
         |            / (za.sz + zb.sz - i.inter), 6) AS DECIMAL(18,6)) AS j
         |        FROM inter i
         |        JOIN sizes za ON za.doc_id = i.doc_a
         |        JOIN sizes zb ON zb.doc_id = i.doc_b
         |        WHERE CAST(i.inter AS DOUBLE)
         |          / (za.sz + zb.sz - i.inter) >= 0.3)
         |SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  ROUND(CAST(SUM(v.j) AS DOUBLE) / COUNT(*), 6) AS avg_jaccard
         |FROM ver v
         |JOIN documents da ON da.doc_id = v.doc_a
         |JOIN documents db ON db.doc_id = v.doc_b
         |GROUP BY 1, 2""".stripMargin,

    // naive-Bayes lang classifier: hashed-unigram features, add-one
    // smoothed (label, bucket) model, decimal per-feature log-prob sums
    // + doc-count prior, argmax with label-asc tiebreak
    "q110_nb_langid" ->
      s"""WITH $NbCtes
         |SELECT doc_id, lang, pred,
         |  -- round the DECIMAL (exact half-up, same as Spark), THEN
         |  -- cast: double-rounding ties diverge between engines
         |  CAST(ROUND(s, 6) AS DOUBLE) AS score
         |FROM pred""".stripMargin,

    // confusion matrix over the q110 classifier: argmax predictions
    // (shared NB CTE chain) × declared lang, per-lang shares
    "q118_lang_confusion" ->
      s"""WITH $NbCtes,
         |cells AS (SELECT lang, pred, CAST(COUNT(*) AS BIGINT) AS n
         |          FROM pred GROUP BY 1, 2),
         |lt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS tot
         |       FROM cells GROUP BY 1)
         |SELECT c.lang, c.pred, c.n,
         |  ROUND(CAST(c.n AS DOUBLE) / lt.tot, 6) AS frac
         |FROM cells c JOIN lt ON lt.lang = c.lang""".stripMargin,

    // winnowing fingerprint summary: same CTE chain as the Spark side —
    // STRUCT(h, np) keys, per-window list_min = smallest hash /
    // rightmost-pos tiebreak, distinct selections per doc. Checksum is
    // split hi/lo so every column stays int64-exact (wide ≈2^61 hashes
    // overflow a plain BIGINT sum at four fingerprints, and >int64
    // decimals are mangled by int64/float64 canonicalizers).
    "q123_winnow_fp" ->
      s"""$WinnowCtes
         |SELECT doc_id, COUNT(*) AS n_fp, MIN(h) AS fp_min,
         |  CAST(SUM(h >> 31) AS BIGINT) AS fp_sum_hi,
         |  CAST(SUM(h & 2147483647) AS BIGINT) AS fp_sum_lo
         |FROM fph GROUP BY doc_id""".stripMargin,

    // winnow overlap: distinct (doc, fingerprint-hash) pairs, hashes in
    // 2..FpMaxDf docs only (boilerplate cap), self-join + pair count
    "q124_winnow_overlap" ->
      s"""$WinnowCtes,
         |du AS (SELECT DISTINCT doc_id, h FROM fph),
         |rare AS (SELECT h FROM du GROUP BY h
         |         HAVING COUNT(*) BETWEEN 2 AND ${TextQueries.FpMaxDf})
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  COUNT(*) AS n_shared
         |FROM du a JOIN du b ON a.h = b.h AND a.doc_id < b.doc_id
         |WHERE a.h IN (SELECT h FROM rare)
         |GROUP BY 1, 2 HAVING COUNT(*) >= ${TextQueries.FpMinShared}""".stripMargin,

    // repeated spans: stride-1 8-token window hashes (lead-window fold,
    // 0-based pos = window start), hashes at >1 (doc,pos) site, adjacent
    // repeated windows merged per doc via the pos - row_number() islands
    "q105_repeated_spans" -> {
      val n = TextQueries.SpanN
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |lng AS (SELECT doc_id, tk FROM tok0 WHERE len(tk) >= $n),
         |tokx AS (SELECT doc_id, unnest(tk) AS tok,
         |           unnest(range(0, len(tk))) AS pos FROM lng),
         |th AS (SELECT doc_id, pos, ${H("tok")} AS th, ${H2("tok")} AS t2
         |       FROM tokx),
         |shl AS (SELECT doc_id, pos, th, t2, ${wideLeads(n)} FROM th),
         |win AS (SELECT doc_id, pos, ${wideFold(n)} AS h
         |        FROM shl WHERE th${n - 1} IS NOT NULL),
         |rep AS (SELECT h FROM win GROUP BY h HAVING COUNT(*) > 1),
         |rw AS (SELECT doc_id, pos FROM win
         |       WHERE h IN (SELECT h FROM rep)),
         |isl AS (SELECT doc_id, pos,
         |          pos - row_number() OVER (PARTITION BY doc_id
         |            ORDER BY pos) AS grp
         |        FROM rw)
         |SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start,
         |  CAST(MAX(pos) + ${n - 1} AS INTEGER) AS span_end,
         |  COUNT(*) AS n_windows
         |FROM isl GROUP BY doc_id, grp""".stripMargin
    },

    // excised corpus: q105's dup windows minus each hash's canonical
    // (min packed (doc,pos)) site, merged to spans, cut from the token
    // stream; clean_text = surviving tokens space-joined
    "q269_excise_spans" -> {
      val n = TextQueries.SpanN
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |lng AS (SELECT doc_id, tk FROM tok0 WHERE len(tk) >= $n),
         |tokx AS (SELECT doc_id, unnest(tk) AS tok,
         |           unnest(range(0, len(tk))) AS pos FROM lng),
         |th AS (SELECT doc_id, pos, ${H("tok")} AS th, ${H2("tok")} AS t2
         |       FROM tokx),
         |shl AS (SELECT doc_id, pos, th, t2, ${wideLeads(n)} FROM th),
         |win AS (SELECT doc_id, pos, ${wideFold(n)} AS h
         |        FROM shl WHERE th${n - 1} IS NOT NULL),
         |rep AS (SELECT h FROM win GROUP BY h HAVING COUNT(*) > 1),
         |rw AS (SELECT w.doc_id, w.pos, w.h,
         |         array_to_string(t.tk[w.pos + 1 : w.pos + $n], ' ')
         |           AS wt
         |       FROM win w JOIN rep USING (h)
         |         JOIN lng t ON t.doc_id = w.doc_id),
         |st AS (SELECT h, wt, COUNT(*) AS c,
         |         MIN(doc_id * 1073741824 + pos) AS ck
         |       FROM rw GROUP BY h, wt),
         |dw AS (SELECT w.doc_id, w.pos
         |       FROM rw w JOIN st ON w.h = st.h AND w.wt = st.wt
         |       WHERE st.c > 1
         |         AND w.doc_id * 1073741824 + w.pos <> st.ck),
         |isl AS (SELECT doc_id, pos,
         |          pos - row_number() OVER (PARTITION BY doc_id
         |            ORDER BY pos) AS grp
         |        FROM dw),
         |sp AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + ${n - 1} AS e
         |       FROM isl GROUP BY doc_id, grp),
         |spn AS (SELECT doc_id, COUNT(*) AS ns FROM sp GROUP BY doc_id),
         |allx AS (SELECT doc_id, unnest(tk) AS tok,
         |           unnest(range(0, len(tk))) AS pos FROM tok0),
         |keep AS (SELECT a.doc_id, a.pos, a.tok FROM allx a
         |         WHERE NOT EXISTS (SELECT 1 FROM sp
         |           WHERE sp.doc_id = a.doc_id
         |             AND a.pos BETWEEN sp.s AND sp.e)),
         |ka AS (SELECT doc_id,
         |         array_to_string(list(tok ORDER BY pos), ' ') AS ct,
         |         COUNT(*) AS nk
         |       FROM keep GROUP BY doc_id)
         |SELECT t.doc_id, COALESCE(ka.ct, '') AS clean_text,
         |  CAST(len(t.tk) - COALESCE(ka.nk, 0) AS BIGINT) AS n_removed,
         |  CAST(COALESCE(spn.ns, 0) AS BIGINT) AS n_spans
         |FROM tok0 t LEFT JOIN ka USING (doc_id)
         |  LEFT JOIN spn USING (doc_id)""".stripMargin
    },

    "q68_boilerplate" ->
      s"""WITH t AS (SELECT doc_id, $Tk AS tk FROM documents),
         |st AS (SELECT doc_id, tk,
         |         unnest(range(0, CASE WHEN len(tk) = 0 THEN 1
         |                             ELSE len(tk) END, 16)) AS start
         |       FROM t),
         |ch AS (SELECT doc_id, tk[start + 1 : start + 32] AS chunk
         |       FROM st),
         |h AS (SELECT doc_id,
         |        ${HW("array_to_string(chunk, ' ')")} AS chunk_hash
         |      FROM ch WHERE len(chunk) = 32)
         |SELECT chunk_hash,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  COUNT(*) AS n_occurrences
         |FROM h GROUP BY chunk_hash
         |HAVING COUNT(DISTINCT doc_id) > 1""".stripMargin,

    "q61_chunks" ->
      s"""WITH t AS (SELECT doc_id, $Tk AS tk FROM documents),
         |st AS (SELECT doc_id, tk,
         |         unnest(range(0, CASE WHEN len(tk) = 0 THEN 1
         |                             ELSE len(tk) END, 48)) AS start
         |       FROM t),
         |ch AS (SELECT doc_id, start // 48 AS chunk_idx,
         |         tk[start + 1 : start + 64] AS chunk
         |       FROM st)
         |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
         |  CAST(len(chunk) AS BIGINT) AS n_tokens,
         |  ${HW("array_to_string(chunk, ' ')")} AS chunk_hash
         |FROM ch""".stripMargin,

    "q58_tfidf_terms" ->
      s"""WITH tok AS (SELECT doc_id, unnest($Tk) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf
         |       FROM tok GROUP BY doc_id, term),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |scored AS (SELECT t.doc_id, t.term,
         |             CAST((t.tf * 1000 * n.n) // d.df AS BIGINT)
         |               AS tfidf_scaled
         |           FROM tf t JOIN df d USING (term) CROSS JOIN n),
         |ranked AS (SELECT doc_id, term, tfidf_scaled,
         |             row_number() OVER (PARTITION BY doc_id
         |               ORDER BY tfidf_scaled DESC, term ASC) AS rn
         |           FROM scored)
         |SELECT doc_id, term, tfidf_scaled, CAST(rn AS INTEGER) AS rank
         |FROM ranked WHERE rn <= 3""".stripMargin,

    // cluster representative: the q57 component chain + metadata join,
    // argmax (n_chars desc, doc_id asc) per cluster
    "q122_cluster_reps" ->
      s"""${MinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |bands AS (SELECT doc_id, i // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_sig
         |          FROM mh GROUP BY doc_id, i // 4),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.band_sig = b.band_sig
         |           AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shx GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
         |          FROM pairs p
         |          JOIN shx sa ON sa.doc_id = p.doc_a
         |          JOIN shx sb ON sb.doc_id = p.doc_b AND sa.h = sb.h
         |          GROUP BY p.doc_a, p.doc_b),
         |verified AS (SELECT i.doc_a, i.doc_b
         |             FROM inter i
         |             JOIN sizes za ON za.doc_id = i.doc_a
         |             JOIN sizes zb ON zb.doc_id = i.doc_b
         |             WHERE CAST(i.inter AS DOUBLE)
         |                   / (za.sz + zb.sz - i.inter) >= 0.3),
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM verified
         |          UNION ALL
         |          SELECT doc_b AS s, doc_a AS d FROM verified),
         |reach AS (SELECT s AS id, s AS lab FROM edges
         |          UNION
         |          SELECT e.d AS id, r.lab
         |          FROM reach r JOIN edges e ON e.s = r.id),
         |cc AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
         |jm AS (SELECT cc.id, cc.cluster_id, d.n_chars
         |       FROM cc JOIN documents d ON d.doc_id = cc.id),
         |rk AS (SELECT id, cluster_id, n_chars,
         |         row_number() OVER (PARTITION BY cluster_id
         |           ORDER BY n_chars DESC, id ASC) AS rn,
         |         CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         |           AS cluster_size
         |       FROM jm)
         |SELECT cluster_id, id AS rep_doc_id, cluster_size,
         |  n_chars AS rep_n_chars
         |FROM rk WHERE rn = 1""".stripMargin,

    "q57_dup_clusters" ->
      s"""${MinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |bands AS (SELECT doc_id, i // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_sig
         |          FROM mh GROUP BY doc_id, i // 4),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.band_sig = b.band_sig
         |           AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shx GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
         |          FROM pairs p
         |          JOIN shx sa ON sa.doc_id = p.doc_a
         |          JOIN shx sb ON sb.doc_id = p.doc_b AND sa.h = sb.h
         |          GROUP BY p.doc_a, p.doc_b),
         |verified AS (SELECT i.doc_a, i.doc_b
         |             FROM inter i
         |             JOIN sizes za ON za.doc_id = i.doc_a
         |             JOIN sizes zb ON zb.doc_id = i.doc_b
         |             WHERE CAST(i.inter AS DOUBLE)
         |                   / (za.sz + zb.sz - i.inter) >= 0.3),
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM verified
         |          UNION ALL
         |          SELECT doc_b AS s, doc_a AS d FROM verified),
         |reach AS (SELECT s AS id, s AS lab FROM edges
         |          UNION
         |          SELECT e.d AS id, r.lab
         |          FROM reach r JOIN edges e ON e.s = r.id),
         |cc AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id)
         |SELECT id AS doc_id, cluster_id,
         |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         |    AS cluster_size
         |FROM cc""".stripMargin,

    "q29_simhash" -> {
      val bitSums = (0 until 16).map(j =>
        s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
        .mkString(",\n  ")
      val sig = (0 until 16).map(j =>
        s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest($Tk) AS t FROM documents),
         |th AS (SELECT doc_id, ${H("t")} AS h FROM tok),
         |bits AS (SELECT doc_id,
         |  $bitSums
         |  FROM th GROUP BY doc_id)
         |SELECT doc_id, CAST($sig AS BIGINT) AS simhash,
         |  CAST(bit_count(CAST($sig AS BIGINT)) AS INTEGER) AS popcount
         |FROM bits""".stripMargin
    },

    "q56_simhash_pairs" -> {
      val bitSums = (0 until 32).map(j =>
        s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
        .mkString(",\n  ")
      val sig = (0 until 32).map(j =>
        s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest($Tk) AS t FROM documents),
         |th AS (SELECT doc_id, ${H("t")} AS h FROM tok),
         |bits AS (SELECT doc_id,
         |  $bitSums
         |  FROM th GROUP BY doc_id),
         |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS s FROM bits)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.s, b.s)) <= 1""".stripMargin
    },

    "q92_split" ->
      s"""SELECT CASE WHEN hv < 800000 THEN 'train'
         |            WHEN hv < 900000 THEN 'val'
         |            ELSE 'test' END AS split,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM (SELECT n_chars,
         |        (${H("CAST(doc_id AS VARCHAR) || '#7'")}
         |         * 2654435761 % 1000000007) % 1000000 AS hv
         |      FROM documents) t
         |GROUP BY split""".stripMargin,

    "q54_stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE (${H("CAST(doc_id AS VARCHAR) || '#7'")}
         |       * 2654435761 % 1000000007) % 1000000 <
         |  CASE WHEN lang = 'en' THEN 250000
         |       WHEN lang = 'zh' THEN 900000
         |       ELSE 500000 END""".stripMargin,

    "q94_weighted_sample" ->
      s"""WITH h AS (SELECT doc_id, n_chars,
         |    CAST(${H("CAST(doc_id AS VARCHAR) || '#7'")}
         |     * 2654435761 % 1000000007 AS BIGINT) AS h1,
         |    CAST(${H("CAST(doc_id AS VARCHAR) || '#8'")}
         |     * 2654435761 % 1000000007 AS BIGINT) AS h2
         |  FROM documents WHERE n_chars > 0),
         |p AS (SELECT doc_id, n_chars,
         |    ln(CAST(h1 * 1000000007 + h2 + 1 AS DOUBLE) /
         |       (CAST(1000000007 AS DOUBLE) * CAST(1000000007 AS DOUBLE)
         |        + 1)) / n_chars AS pri
         |  FROM h)
         |SELECT doc_id, n_chars FROM p
         |ORDER BY pri DESC, doc_id ASC LIMIT 50""".stripMargin,

    "q95_rebalance_mix" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents
         |           WHERE lang IN ('en', 'zh', 'de') GROUP BY lang),
         |w AS (SELECT lang, n,
         |        CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE)
         |                  ELSE CAST(0.25 AS DOUBLE) END AS wn
         |      FROM c),
         |t AS (SELECT MIN(n / wn) AS total FROM w),
         |f AS (SELECT lang,
         |        least(CAST(1.0 AS DOUBLE),
         |              (SELECT total FROM t) * wn / n) AS f0
         |      FROM w),
         |t0 AS (SELECT lang,
         |         (CASE WHEN f0 >= CAST(1.0 AS DOUBLE) - 1e-9
         |               THEN CAST(1.0 AS DOUBLE) ELSE f0 END)
         |         * 1000000 AS x
         |       FROM f),
         |-- near-integer snap before trunc, mirroring keepThreshold
         |th AS (SELECT lang,
         |         CAST(CASE WHEN abs(x - round(x)) < 1e-3 THEN round(x)
         |                   ELSE trunc(x) END AS BIGINT) AS thr
         |       FROM t0)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN th ON d.lang = th.lang
         |WHERE (${H("CAST(d.doc_id AS VARCHAR) || '#7'")}
         |       * 2654435761 % 1000000007) % 1000000 < th.thr""".stripMargin,

    // hash match re-verified on exact shingle text (mirrors the
    // operator's collision-proof form): positions pair each window hash
    // with its own token slice
    "q96_decontaminate" ->
      s"""WITH ${shingleTextCtesBody(3, "documents")},
         |bench AS (SELECT DISTINCT h, st FROM stx WHERE doc_id % 20 = 0),
         |hits AS (SELECT DISTINCT s.doc_id, s.h
         |         FROM stx s JOIN bench USING (h, st)
         |         WHERE s.doc_id % 20 <> 0)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
         |FROM hits GROUP BY doc_id""".stripMargin,

    "q100_strip_markup" ->
      """WITH p AS (SELECT doc_id,
        |    '<html><!-- ads > popups --><body  class="doc"><h1>T</h1><p>'
        |    || substr(text, 1, 80)
        |    || ' &amp; more &lt;tail&gt;</p><script>var x = 1;</script>'
        |    || '</body></html>' AS payload
        |  FROM documents),
        |s AS (SELECT doc_id, trim(regexp_replace(
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(payload, '(?s)<!--.*?-->', ' ', 'g'),
        |          '(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>',
        |          ' ', 'g'),
        |        '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |  FROM p)
        |SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n_clean
        |FROM s""".stripMargin,

    "q99_upsample_mix" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents
         |           WHERE lang IN ('en', 'zh', 'de') GROUP BY lang),
         |w AS (SELECT lang, n,
         |        CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE)
         |                  ELSE CAST(0.25 AS DOUBLE) END AS wn
         |      FROM c),
         |t AS (SELECT MAX(n / wn) AS total FROM w),
         |f0 AS (SELECT lang, (SELECT total FROM t) * wn / n AS f FROM w),
         |-- near-integer snap, mirroring upsampleToMix's 1e-9 guard
         |f AS (SELECT lang, CASE WHEN abs(f - round(f)) < 1e-9
         |                        THEN round(f) ELSE f END AS f
         |      FROM f0),
         |r AS (SELECT d.doc_id, d.lang,
         |        CAST(floor(f.f) AS BIGINT) +
         |        CASE WHEN (${H("CAST(d.doc_id AS VARCHAR) || '#7'")}
         |                   * 2654435761 % 1000000007) % 1000000 <
         |          CAST(trunc((f.f - floor(f.f)) * 1000000) AS BIGINT)
         |        THEN 1 ELSE 0 END AS copies
         |      FROM documents d JOIN f ON d.lang = f.lang)
         |SELECT doc_id, lang,
         |  unnest(generate_series(1, copies)) AS copy_idx
         |FROM r WHERE copies > 0""".stripMargin,

    "q101_bigram_quality" ->
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |tok AS (SELECT doc_id, unnest(tk) AS term FROM tok0),
         |uc AS (SELECT term, COUNT(*) AS uc FROM tok GROUP BY term),
         |tot AS (SELECT CAST(SUM(uc) AS BIGINT) AS n_total FROM uc),
         |bi AS (SELECT doc_id, tk[u.i] AS w1, tk[u.i + 1] AS w2
         |       FROM tok0, LATERAL (SELECT unnest(
         |         generate_series(1, len(tk) - 1)) AS i) u
         |       WHERE len(tk) >= 2),
         |bc AS (SELECT w1, w2, COUNT(*) AS bc FROM bi GROUP BY w1, w2)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  ROUND(CAST(SUM(CAST(ROUND(ln(
         |      ${TextQueries.BigramLambda} *
         |        (CAST(bc.bc AS DOUBLE) / CAST(u1.uc AS DOUBLE)) +
         |      ${1.0 - TextQueries.BigramLambda} *
         |        (CAST(u2.uc AS DOUBLE) /
         |         CAST((SELECT n_total FROM tot) AS DOUBLE))
         |    ), 9) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
         |    AS avg_logprob2
         |FROM bi JOIN bc USING (w1, w2)
         |  JOIN uc u1 ON bi.w1 = u1.term
         |  JOIN uc u2 ON bi.w2 = u2.term
         |GROUP BY doc_id""".stripMargin,

    "q98_unigram_quality" ->
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |tok AS (SELECT doc_id, unnest(tk) AS term FROM tok0),
         |tf AS (SELECT term, COUNT(*) AS tf FROM tok GROUP BY term),
         |tot AS (SELECT COUNT(*) AS n_total FROM tok)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  ROUND(CAST(SUM(CAST(ROUND(ln(CAST(tf AS DOUBLE) /
         |      CAST((SELECT n_total FROM tot) AS DOUBLE)), 9)
         |    AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
         |FROM tok JOIN tf USING (term)
         |GROUP BY doc_id""".stripMargin,

    "q45_repetition" ->
      s"""${shingleCtes(2)},
         |g AS (SELECT doc_id, h, COUNT(*) AS c FROM shu GROUP BY doc_id, h)
         |SELECT doc_id,
         |  ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
         |    AS top_bigram_frac,
         |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
         |    AS distinct_bigram_ratio
         |FROM g GROUP BY doc_id""".stripMargin,

    "q30_jaccard_window" ->
      s"""$ShingleCtes,
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM documents a JOIN documents b
         |            ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 3),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shx GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
         |          FROM pairs p
         |          JOIN shx sa ON sa.doc_id = p.doc_a
         |          JOIN shx sb ON sb.doc_id = p.doc_b AND sa.h = sb.h
         |          GROUP BY p.doc_a, p.doc_b)
         |SELECT i.doc_a, i.doc_b,
         |  ROUND(CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter), 6) AS jaccard
         |FROM inter i
         |JOIN sizes za ON za.doc_id = i.doc_a
         |JOIN sizes zb ON zb.doc_id = i.doc_b
         |WHERE i.inter > 0""".stripMargin,

    "q158_auc" ->
      s"""WITH sc AS (SELECT source,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |         ELSE CAST(len(list_filter(tk, t -> t IN ($stopwords)))
         |              AS DOUBLE) / len(tk) END AS score
         |  FROM (SELECT source, lang, $Tk AS tk FROM documents) t),
         |g AS (SELECT source, score, CAST(SUM(y) AS BIGINT) AS p,
         |        CAST(COUNT(*) - SUM(y) AS BIGINT) AS n
         |      FROM sc GROUP BY source, score),
         |w AS (SELECT source, p, n,
         |        COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY score
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS cb
         |      FROM g)
         |SELECT source, CAST(SUM(p) AS BIGINT) AS n_pos,
         |  CAST(SUM(n) AS BIGINT) AS n_neg,
         |  CAST(SUM(p * (2 * cb + n)) AS BIGINT) AS u2,
         |  CASE WHEN SUM(p) > 0 AND SUM(n) > 0
         |       THEN ROUND(CAST(SUM(p * (2 * cb + n)) AS DOUBLE)
         |                  / (2.0 * SUM(p) * SUM(n)), 6) END AS auc
         |FROM w GROUP BY source""".stripMargin,

    "q159_calibration" ->
      s"""WITH sc AS (SELECT
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |         ELSE CAST(len(list_filter(tk, t -> t IN ($stopwords)))
         |              AS DOUBLE) / len(tk) END AS score
         |  FROM (SELECT lang, $Tk AS tk FROM documents) t)
         |SELECT CAST(LEAST(FLOOR(score * 10), 9) AS BIGINT) AS bin,
         |  COUNT(*) AS n,
         |  ROUND(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
         |        / COUNT(*), 6) AS avg_score,
         |  ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate
         |FROM sc GROUP BY bin""".stripMargin,

    "q161_pagerank" -> {
      // unrolled 8-iteration scaled-integer power method — recursive
      // CTEs can't re-aggregate per round, so the oracle spells each
      // round out; same `div` arithmetic as Graph.pageRankScaled
      // every round CTE is MATERIALIZED: DuckDB inlines plain CTEs, so
      // round k would otherwise expand round k−1 three times (contrib,
      // dangling, rank join) — exponential plan growth that exhausts
      // file handles re-opening the parquet scan; materialization makes
      // the unrolled chain linear, mirroring the Spark side's
      // per-round localCheckpoint
      val iters = (1 to 8).map { i =>
        val prev = s"r${i - 1}"
        s"""c$i AS MATERIALIZED (
           |  SELECT e.dst AS id, SUM(p.r // d.outdeg) AS in_sum
           |  FROM $prev p JOIN deg d ON d.id = p.id AND d.outdeg > 0
           |  JOIN edges e ON e.src = p.id GROUP BY e.dst),
           |g$i AS MATERIALIZED (
           |  SELECT COALESCE(SUM(p.r), 0) AS ds FROM $prev p
           |  JOIN deg d ON d.id = p.id AND d.outdeg = 0),
           |r$i AS MATERIALIZED (SELECT d.id,
           |    (15 * ((SELECT s FROM sn) // (SELECT n FROM nn))
           |     + 85 * (COALESCE(c.in_sum, 0)
           |             + (SELECT ds FROM g$i) // (SELECT n FROM nn)))
           |    // 100 AS r
           |  FROM deg d LEFT JOIN c$i c ON c.id = d.id)""".stripMargin
      }.mkString(",\n")
      s"""$MinhashCtes,
         |bands AS (SELECT doc_id, i // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_sig
         |          FROM mh GROUP BY doc_id, i // 4),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.band_sig = b.band_sig
         |           AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shx GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
         |          FROM pairs p
         |          JOIN shx sa ON sa.doc_id = p.doc_a
         |          JOIN shx sb ON sb.doc_id = p.doc_b AND sa.h = sb.h
         |          GROUP BY p.doc_a, p.doc_b),
         |verified AS (SELECT i.doc_a, i.doc_b
         |             FROM inter i
         |             JOIN sizes za ON za.doc_id = i.doc_a
         |             JOIN sizes zb ON zb.doc_id = i.doc_b
         |             WHERE CAST(i.inter AS DOUBLE)
         |                   / (za.sz + zb.sz - i.inter) >= 0.3),
         |edges AS MATERIALIZED (
         |  SELECT DISTINCT doc_b AS src, doc_a AS dst FROM verified),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM edges UNION SELECT dst FROM edges) u),
         |deg AS MATERIALIZED (
         |  SELECT n.id, COALESCE(o.outdeg, 0) AS outdeg
         |  FROM nodes n LEFT JOIN (SELECT src AS id, COUNT(*) AS outdeg
         |                          FROM edges GROUP BY src) o USING (id)),
         |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM deg),
         |sn AS (SELECT CAST(1000000000000 AS BIGINT) AS s),
         |r0 AS MATERIALIZED (
         |  SELECT id, (SELECT s FROM sn) // (SELECT n FROM nn) AS r
         |  FROM deg),
         |$iters
         |SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_scaled
         |FROM r8""".stripMargin
    },

    "q162_setsim_join" ->
      s"""${shingleCtes(TextQueries.SetSimN)},
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shx GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |            COUNT(*) AS inter
         |          FROM shx a JOIN shx b
         |            ON a.h = b.h AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id)
         |SELECT i.doc_a, i.doc_b, CAST(i.inter AS BIGINT) AS inter,
         |  ROUND(CAST(i.inter AS DOUBLE)
         |        / (za.sz + zb.sz - i.inter), 6) AS jaccard
         |FROM inter i
         |JOIN sizes za ON za.doc_id = i.doc_a
         |JOIN sizes zb ON zb.doc_id = i.doc_b
         |WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter)
         |      >= 0.5""".stripMargin,

    "q163_sorted_blocks" -> {
      val leads = (1 to 3).map(i =>
        s"""lead(doc_id, $i) OVER w AS id_$i,
           |  lead(n_chars, $i) OVER w AS sv_$i""".stripMargin).mkString(",\n  ")
      val arms = (1 to 3).map(i =>
        s"""SELECT doc_id AS id_a, id_$i AS id_b, lang AS block,
           |  sv_$i - n_chars AS sort_gap FROM s
           |WHERE id_$i IS NOT NULL""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH s AS (SELECT doc_id, lang, n_chars,
         |  $leads
         |  FROM documents
         |  WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id))
         |$arms""".stripMargin
    },

    "q166_kappa" -> {
      val markerValues = graft.ops.TextOps.LangMarkers
        .flatMap { case (l, ws) => ws.map(w => s"('$l', '$w')") }
        .mkString(", ")
      val fallback = graft.ops.TextOps.LangMarkers.head._1
      s"""WITH tok AS (SELECT doc_id, unnest($Tk) AS tok FROM documents),
         |m(lang_m, w) AS (SELECT * FROM (VALUES $markerValues) v),
         |hits AS (SELECT t.doc_id, m.lang_m, COUNT(*) AS n_hits
         |         FROM tok t JOIN m ON t.tok = m.w
         |         GROUP BY t.doc_id, m.lang_m),
         |best AS (SELECT doc_id, lang_m,
         |           row_number() OVER (PARTITION BY doc_id
         |             ORDER BY n_hits DESC, lang_m ASC) AS rn
         |         FROM hits),
         |g AS (SELECT d.lang AS a, COALESCE(b.lang_m, '$fallback') AS b
         |      FROM documents d
         |      LEFT JOIN (SELECT doc_id, lang_m FROM best WHERE rn = 1) b
         |        ON d.doc_id = b.doc_id),
         |ct AS (SELECT a, b, COUNT(*) AS c FROM g GROUP BY a, b),
         |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ct),
         |ag AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS agree
         |       FROM ct WHERE a = b),
         |pe AS (SELECT COALESCE(SUM(r.ra * s.cb), 0) AS pe_num
         |       FROM (SELECT a, SUM(c) AS ra FROM ct GROUP BY a) r
         |       JOIN (SELECT b, SUM(c) AS cb FROM ct GROUP BY b) s
         |         ON r.a = s.b)
         |SELECT n, agree,
         |  ROUND(CAST(agree AS DOUBLE) / n, 6) AS po,
         |  ROUND(CAST(pe_num AS DOUBLE) /
         |        CAST(CAST(n AS HUGEINT) * n AS DOUBLE), 6) AS pe,
         |  ROUND(CAST(CAST(n AS HUGEINT) * agree - pe_num AS DOUBLE) /
         |        CAST(CAST(n AS HUGEINT) * n - pe_num AS DOUBLE), 6)
         |    AS kappa
         |FROM nn, ag, pe""".stripMargin
    },

    "q167_ndcg" -> {
      val terms = TextQueries.Bm25Terms.map(t => s"'$t'").mkString(", ")
      val k = TextQueries.Bm25K
      val disc = graft.ops.Eval.ndcgDiscounts(k)
        .map { case (p, w) => s"($p, $w)" }.mkString(", ")
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |st AS (SELECT COUNT(*) AS nd, SUM(len(tk)) AS ntok FROM tok0),
         |hits AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
         |           unnest(list_filter(tk, t -> t IN ($terms))) AS term
         |         FROM tok0),
         |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf
         |       FROM hits GROUP BY doc_id, dl, term),
         |dfp AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |sc AS (SELECT t.doc_id,
         |         CAST(ROUND(ln((st.nd - d.df + 0.5) / (d.df + 0.5) + 1.0)
         |           * (t.tf * 2.2)
         |           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * t.dl * st.nd
         |                            / st.ntok)), 9)
         |           AS DECIMAL(18,9)) AS s
         |       FROM tf t JOIN dfp d USING (term) CROSS JOIN st),
         |agg AS (SELECT doc_id, CAST(ROUND(SUM(s), 6) AS DOUBLE) AS score
         |        FROM sc GROUP BY doc_id),
         |ranked AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
         |      AS INTEGER) AS pos
         |  FROM agg ORDER BY score DESC, doc_id ASC LIMIT $k),
         |rel AS (SELECT doc_id,
         |    len(list_distinct(list_intersect(tk, [$terms]))) AS rel
         |  FROM tok0),
         |disc(pos, w) AS (SELECT * FROM (VALUES $disc) v),
         |dcg AS (SELECT SUM(CAST((1 << r.rel) - 1 AS DECIMAL(18,0)) * d.w)
         |          AS dcg
         |        FROM ranked k JOIN rel r USING (doc_id)
         |        JOIN disc d ON d.pos = k.pos),
         |ideal AS (SELECT rel,
         |    CAST(row_number() OVER (ORDER BY rel DESC) AS INTEGER) AS pos
         |  FROM (SELECT rel FROM rel ORDER BY rel DESC LIMIT $k) t),
         |idcg AS (SELECT SUM(CAST((1 << i.rel) - 1 AS DECIMAL(18,0)) * d.w)
         |           AS idcg
         |         FROM ideal i JOIN disc d USING (pos))
         |SELECT $k AS k, CAST(ROUND(dcg, 6) AS DOUBLE) AS dcg,
         |  CAST(ROUND(idcg, 6) AS DOUBLE) AS idcg,
         |  CASE WHEN idcg > 0
         |       THEN ROUND(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
         |  END AS ndcg
         |FROM dcg, idcg""".stripMargin
    },

    "q168_er_scores" -> {
      val fs = TextQueries.erFields
      def w(i: Int) = (fs(i).wAgree, fs(i).wDisagree)
      val (sa, sd) = w(0); val (za, zd) = w(1); val (pa, pd) = w(2)
      val leads = (1 to 3).map(i =>
        s"""lead(doc_id, $i) OVER w AS id_$i,
           |    lead(n_chars, $i) OVER w AS sv_$i,
           |    lead(source, $i) OVER w AS src_$i,
           |    lead(tok1, $i) OVER w AS tok1_$i""".stripMargin)
        .mkString(",\n    ")
      val arms = (1 to 3).map(i =>
        s"""SELECT doc_id AS id_a, id_$i AS id_b, lang AS block,
           |  sv_$i - n_chars AS sort_gap, source AS src_a,
           |  src_$i AS src_b, tok1 AS tok1_a, tok1_$i AS tok1_b
           |FROM s WHERE id_$i IS NOT NULL""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH d0 AS (SELECT doc_id, lang, n_chars, source,
         |    ($Tk)[1] AS tok1 FROM documents),
         |s AS (SELECT doc_id, lang, n_chars, source, tok1,
         |    $leads
         |  FROM d0
         |  WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)),
         |p AS ($arms),
         |sc AS (SELECT id_a, id_b, block,
         |    CASE WHEN src_a = src_b THEN $sa ELSE $sd END AS w_source,
         |    CASE WHEN abs(sort_gap) <= 10 THEN $za ELSE $zd END AS w_size,
         |    CASE WHEN tok1_a IS NOT NULL AND tok1_b IS NOT NULL
         |              AND tok1_a = tok1_b THEN $pa ELSE $pd END AS w_prefix
         |  FROM p)
         |SELECT id_a, id_b, block, w_source, w_size, w_prefix,
         |  ROUND(w_source + w_size + w_prefix, 6) AS match_weight,
         |  CASE WHEN ROUND(w_source + w_size + w_prefix, 6)
         |              >= ${TextQueries.ErUpper} THEN 'match'
         |       WHEN ROUND(w_source + w_size + w_prefix, 6)
         |              <= ${TextQueries.ErLower} THEN 'non_match'
         |       ELSE 'possible' END AS decision
         |FROM sc""".stripMargin
    },

    "q169_rbo" -> {
      val terms = TextQueries.Bm25Terms.map(t => s"'$t'").mkString(", ")
      val k = TextQueries.Bm25K
      val p = TextQueries.RboP
      val wvals = graft.ops.Eval.rboTailWeights(k, p)
        .map { case (m, w) => s"($m, $w)" }.mkString(", ")
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |st AS (SELECT COUNT(*) AS nd, SUM(len(tk)) AS ntok FROM tok0),
         |hits AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
         |           unnest(list_filter(tk, t -> t IN ($terms))) AS term
         |         FROM tok0),
         |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf
         |       FROM hits GROUP BY doc_id, dl, term),
         |dfp AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |sc AS (SELECT t.doc_id,
         |         CAST(ROUND(ln((st.nd - d.df + 0.5) / (d.df + 0.5) + 1.0)
         |           * (t.tf * 2.2)
         |           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * t.dl * st.nd
         |                            / st.ntok)), 9)
         |           AS DECIMAL(18,9)) AS s
         |       FROM tf t JOIN dfp d USING (term) CROSS JOIN st),
         |agg AS (SELECT doc_id, CAST(ROUND(SUM(s), 6) AS DOUBLE) AS score
         |        FROM sc GROUP BY doc_id),
         |bm AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
         |      AS INTEGER) AS ra
         |  FROM agg ORDER BY score DESC, doc_id ASC LIMIT $k),
         |nv AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY n DESC, doc_id ASC)
         |      AS INTEGER) AS rb
         |  FROM (SELECT doc_id,
         |          len(list_filter(tk, t -> t IN ($terms))) AS n
         |        FROM tok0) t
         |  ORDER BY n DESC, doc_id ASC LIMIT $k),
         |w(m, tail_w) AS (SELECT * FROM (VALUES $wvals) v),
         |j AS (SELECT GREATEST(bm.ra, nv.rb) AS m
         |      FROM bm JOIN nv USING (doc_id))
         |SELECT $k AS k, $p AS p, COUNT(*) AS n_common,
         |  ROUND(${1.0 - p} * CAST(COALESCE(SUM(w.tail_w), 0)
         |        AS DOUBLE), 6) AS rbo
         |FROM j JOIN w USING (m)""".stripMargin
    },

    "q170_quantile_norm" ->
      """WITH b AS (SELECT doc_id, source, n_chars,
        |    ntile(10) OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS bucket
        |  FROM documents),
        |v AS (SELECT n_chars AS val, COUNT(*) AS c FROM documents
        |      GROUP BY n_chars),
        |cum AS (SELECT val, SUM(c) OVER (ORDER BY val
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM v),
        |nn AS (SELECT COUNT(*) AS n FROM documents),
        |pooled AS (SELECT q.b AS bucket, MIN(cum.val) AS norm_value
        |  FROM cum, nn, (SELECT unnest(range(1, 11)) AS b) q
        |  WHERE cum.cum * 10 >= q.b * nn.n
        |  GROUP BY q.b)
        |SELECT b.doc_id, b.source, b.n_chars, b.bucket, p.norm_value
        |FROM b JOIN pooled p USING (bucket)""".stripMargin,

    "q164_skipgrams" ->
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |tokx AS (SELECT doc_id, unnest(tk) AS tok,
         |           unnest(range(1, len(tk) + 1)) AS pos FROM tok0),
         |p AS (SELECT a.tok AS center, b.tok AS context
         |      FROM tokx a JOIN tokx b
         |        ON a.doc_id = b.doc_id AND a.pos <> b.pos
         |       AND abs(a.pos - b.pos) <= 2)
         |SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n
         |FROM p GROUP BY center, context
         |ORDER BY n DESC, center ASC, context ASC LIMIT 30""".stripMargin,

    // PAV ≡ minimax: the isotonic-regression fit at bin i equals
    // max_{j≤i} min_{k≥i} weightedRate(j..k) (Ayer et al. 1955; the
    // standard closed form of pool-adjacent-violators). The sequential
    // pooling loop the Spark op runs driver-side is therefore
    // expressible as a triangular segment aggregate over the ≤10 bin
    // rows — O(k³) in BIN COUNT, data-size-free, exactly what a SQL
    // oracle can afford. Double min/max over segment rates matches the
    // op's exact cross-multiplied ordering to well below the 6-decimal
    // readout.
    "q179_isotonic" ->
      s"""WITH sc AS (SELECT
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |         ELSE CAST(len(list_filter(tk, t -> t IN ($stopwords)))
         |              AS DOUBLE) / len(tk) END AS score
         |  FROM (SELECT lang, $Tk AS tk FROM documents) t),
         |g AS (SELECT CAST(LEAST(FLOOR(score * 10), 9) AS BIGINT) AS bin,
         |    COUNT(*) AS n, SUM(y) AS pos
         |  FROM sc GROUP BY bin),
         |seg AS (SELECT j.bin AS j, k.bin AS k,
         |    SUM(m.n) AS n, SUM(m.pos) AS pos
         |  FROM g j JOIN g k ON j.bin <= k.bin
         |  JOIN g m ON m.bin BETWEEN j.bin AND k.bin
         |  GROUP BY j.bin, k.bin),
         |mm AS (SELECT i.bin AS bin, s.j,
         |    MIN(CAST(s.pos AS DOUBLE) / s.n) AS mn
         |  FROM g i JOIN seg s ON s.j <= i.bin AND s.k >= i.bin
         |  GROUP BY i.bin, s.j),
         |cal AS (SELECT bin, MAX(mn) AS cal FROM mm GROUP BY bin)
         |SELECT g.bin, g.n,
         |  ROUND(CAST(g.pos AS DOUBLE) / g.n, 6) AS pos_rate,
         |  ROUND(cal.cal, 6) AS calibrated
         |FROM g JOIN cal ON g.bin = cal.bin""".stripMargin,

    "q202_pr_curve" ->
      s"""WITH sc AS (SELECT
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |         ELSE CAST(len(list_filter(tk, t -> t IN ($stopwords)))
         |              AS DOUBLE) / len(tk) END AS score
         |  FROM (SELECT lang, $Tk AS tk FROM documents) t),
         |g AS (SELECT CAST(t AS DOUBLE) AS threshold, score, y
         |  FROM sc CROSS JOIN (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5,
         |    0.6, 0.7, 0.8, 0.9]) AS t)),
         |a AS (SELECT threshold,
         |    COUNT(CASE WHEN score >= threshold AND y = 1 THEN 1 END) AS tp,
         |    COUNT(CASE WHEN score >= threshold AND y = 0 THEN 1 END) AS fp,
         |    COUNT(CASE WHEN score < threshold AND y = 1 THEN 1 END) AS fn
         |  FROM g GROUP BY threshold)
         |SELECT threshold, tp, fp, fn,
         |  CASE WHEN tp + fp > 0
         |       THEN ROUND(CAST(tp AS DOUBLE)
         |                  / CAST(tp + fp AS DOUBLE), 6) END AS precision,
         |  CASE WHEN tp + fn > 0
         |       THEN ROUND(CAST(tp AS DOUBLE)
         |                  / CAST(tp + fn AS DOUBLE), 6) END AS recall,
         |  CASE WHEN tp > 0
         |       THEN ROUND(2.0 * CAST(tp AS DOUBLE)
         |         / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
         |            + CAST(fn AS DOUBLE)), 6)
         |       ELSE 0.0 END AS f1
         |FROM a""".stripMargin,

    "q204_topn_other" ->
      s"""WITH tok0 AS (SELECT source, $Tk AS tk FROM documents),
         |t AS (SELECT source, unnest(tk) AS token FROM tok0),
         |c AS (SELECT source, token, COUNT(*) AS cnt
         |      FROM t GROUP BY 1, 2),
         |r AS (SELECT source,
         |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY cnt DESC, token ASC) <= 3
         |         THEN token ELSE '__other__' END AS token, cnt
         |  FROM c),
         |g AS (SELECT source, token, CAST(SUM(cnt) AS BIGINT) AS cnt
         |      FROM r GROUP BY 1, 2)
         |SELECT source, token, cnt,
         |  ROUND(CAST(cnt AS DOUBLE)
         |    / CAST(SUM(cnt) OVER (PARTITION BY source) AS DOUBLE), 6)
         |    AS share
         |FROM g""".stripMargin,

    "q198_zipf_fit" ->
      s"""WITH tok0 AS (SELECT doc_id, $Tk AS tk FROM documents),
         |tc AS (SELECT w, COUNT(*) AS c
         |       FROM (SELECT unnest(tk) AS w FROM tok0) GROUP BY w),
         |topk AS (SELECT w, c FROM tc ORDER BY c DESC, w ASC LIMIT 1024),
         |f AS (SELECT
         |    CAST(ROUND(ln(CAST(row_number() OVER
         |      (ORDER BY c DESC, w ASC) AS DOUBLE)), 9)
         |      AS DECIMAL(18,9)) AS x,
         |    CAST(ROUND(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
         |  FROM topk),
         |a AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
         |  FROM f)
         |SELECT n AS n_types,
         |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         |    AS zipf_slope,
         |  ROUND((CAST(sy AS DOUBLE)
         |      - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |        * CAST(sx AS DOUBLE))
         |    / CAST(n AS DOUBLE), 6) AS intercept,
         |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |        * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
         |FROM a""".stripMargin,

    "q200_clustering_coeff" ->
      s"""$MinhashCtes,
         |bands AS (SELECT doc_id, i // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_sig
         |          FROM mh GROUP BY doc_id, i // 4),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.band_sig = b.band_sig
         |           AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shx GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter
         |          FROM pairs p
         |          JOIN shx sa ON sa.doc_id = p.doc_a
         |          JOIN shx sb ON sb.doc_id = p.doc_b AND sa.h = sb.h
         |          GROUP BY p.doc_a, p.doc_b),
         |-- MATERIALIZED: the tail references v several times (deg, both
         |-- sides of oe, the wedge closure) and DuckDB otherwise
         |-- re-inlines the WHOLE minhash cascade per reference — at sf1
         |-- that re-planning spilled >60 GB of temp before ever reaching
         |-- the (tiny, 3.5k-edge) triangle stage; materialized, the full
         |-- query runs in ~7 s
         |v AS MATERIALIZED (SELECT i.doc_a, i.doc_b
         |      FROM inter i
         |      JOIN sizes za ON za.doc_id = i.doc_a
         |      JOIN sizes zb ON zb.doc_id = i.doc_b
         |      WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter)
         |            >= 0.3),
         |deg AS (SELECT node, COUNT(*) AS degree
         |        FROM (SELECT doc_a AS node FROM v
         |              UNION ALL SELECT doc_b FROM v) GROUP BY 1),
         |-- degree-ordered (oriented) triangle enumeration, mirroring the
         |-- engine's bounded-wedge shape: orient every edge toward the
         |-- higher (degree, id) rank, enumerate wedges from each node's
         |-- OUT-edges only (out-degree is degeneracy-bounded, so the
         |-- wedge intermediate never explodes the way the naive
         |-- three-way edge join does at sf1 — 60 GB temp before), close
         |-- each wedge against the oriented edge set; each triangle
         |-- appears exactly once
         |rk AS (SELECT node, row_number() OVER (ORDER BY degree, node)
         |         AS r FROM deg),
         |oe AS (SELECT CASE WHEN ra.r < rb.r THEN v.doc_a
         |                   ELSE v.doc_b END AS s,
         |              CASE WHEN ra.r < rb.r THEN v.doc_b
         |                   ELSE v.doc_a END AS d,
         |              CASE WHEN ra.r < rb.r THEN rb.r ELSE ra.r END AS rd
         |       FROM v JOIN rk ra ON ra.node = v.doc_a
         |              JOIN rk rb ON rb.node = v.doc_b),
         |tri AS (SELECT e1.s AS v1, e1.d AS v2, e2.d AS v3
         |        FROM oe e1
         |        JOIN oe e2 ON e2.s = e1.s AND e1.rd < e2.rd
         |        JOIN oe e3 ON e3.s = e1.d AND e3.d = e2.d),
         |tpn AS (SELECT node, COUNT(*) AS n_tri
         |        FROM (SELECT v1 AS node FROM tri
         |              UNION ALL SELECT v2 FROM tri
         |              UNION ALL SELECT v3 FROM tri) GROUP BY 1)
         |SELECT deg.node, deg.degree,
         |  COALESCE(tpn.n_tri, 0) AS n_tri,
         |  CASE WHEN deg.degree >= 2
         |       THEN ROUND(2.0 * COALESCE(tpn.n_tri, 0)
         |         / CAST(deg.degree * (deg.degree - 1) AS DOUBLE), 6)
         |       ELSE 0.0 END AS cc
         |FROM deg LEFT JOIN tpn ON tpn.node = deg.node""".stripMargin,

    "q236_novelty_curve" ->
      s"""$ShingleCtes,
         |mx AS (SELECT MAX(doc_id) + 1 AS maxid FROM documents),
         |shb AS (SELECT DISTINCT
         |    CAST((doc_id * 10) // (SELECT maxid FROM mx) AS INTEGER)
         |      AS b, h
         |  FROM shx),
         |ib AS (SELECT b, COUNT(*) AS n_shingles FROM shb GROUP BY b),
         |fs AS (SELECT h, MIN(b) AS fb FROM shb GROUP BY h),
         |np AS (SELECT fb AS b, COUNT(*) AS n_new FROM fs GROUP BY fb),
         |dp AS (SELECT
         |    CAST((doc_id * 10) // (SELECT maxid FROM mx) AS INTEGER)
         |      AS b, COUNT(*) AS n_docs
         |  FROM documents GROUP BY b)
         |SELECT dp.b AS bucket, n_docs, n_shingles,
         |  COALESCE(n_new, 0) AS n_new,
         |  ROUND(CAST(COALESCE(n_new, 0) AS DOUBLE) / n_shingles, 6)
         |    AS novelty
         |FROM dp JOIN ib ON dp.b = ib.b
         |LEFT JOIN np ON dp.b = np.b""".stripMargin,
  )

  /** Scale-override oracle twins (merged by
    * [[graft.SparkEntry.oracleSqlScaleOverrides]]) — see the
    * independence caveats there.
    *
    * q56: the default oracle's honest all-pairs theta join is O(n²)
    * comparisons — DuckDB's IEJoin carried it to 400k docs (sf1) but
    * not to 4M (sf10). This twin finds Hamming ≤ 1 pairs by XOR-probe
    * EQUI-joins instead: distance-0 pairs join on equal signatures;
    * distance-1 pairs join each signature's 32 one-bit flips against
    * the signature table (an unordered pair differing in exactly bit j
    * matches exactly once, via the lesser id's flip at j). Still an
    * independent algorithm from the engine's pigeonhole block join —
    * different decomposition, no shared code — but linear in n + true
    * pair mass. Output is folded per lesser id (count + int64-safe
    * checksums), mirroring the engine-side fold. */
  val scaleOracles: Map[String, String] = Map(
    "q56_simhash_pairs" -> {
      val bitSums = (0 until 32).map(j =>
        s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
        .mkString(",\n  ")
      val sig = (0 until 32).map(j =>
        s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest($Tk) AS t FROM documents),
         |th AS (SELECT doc_id, ${H("t")} AS h FROM tok),
         |bits AS (SELECT doc_id,
         |  $bitSums
         |  FROM th GROUP BY doc_id),
         |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS s FROM bits),
         |d0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 0 AS hamming
         |       FROM sig a JOIN sig b ON a.s = b.s
         |       WHERE a.doc_id < b.doc_id),
         |fl AS (SELECT doc_id, s,
         |         xor(s, (CAST(1 AS BIGINT) << CAST(j AS INTEGER))) AS sp
         |       FROM sig, generate_series(0, 31) t(j)),
         |d1 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 1 AS hamming
         |       FROM fl a JOIN sig b ON a.sp = b.s
         |       WHERE a.doc_id < b.doc_id),
         |pairs AS (SELECT * FROM d0 UNION ALL SELECT * FROM d1)
         |SELECT doc_a,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(doc_b) AS BIGINT) AS sum_b,
         |  MAX(doc_b) AS max_b,
         |  CAST(SUM(hamming) AS BIGINT) AS sum_hamming
         |FROM pairs GROUP BY doc_a""".stripMargin
    })
}
