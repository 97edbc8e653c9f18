package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Ckpt.LoopCheckpoint

/** Classifier-evaluation suite — the metrics layer a training-data
  * pipeline needs the moment it trains a quality / language / topic
  * classifier on the corpus: confusion matrix, per-class precision /
  * recall / F1, Cohen's kappa, exact ROC-AUC, calibration table and
  * Brier score.
  *
  * The classifier under evaluation is self-contained and deterministic:
  * per-language top-30 character-trigram profiles are trained on the
  * `doc_id % 4 = 0` split (the q_text_langid_ngram discipline) and every
  * HELD-OUT document (`doc_id % 4 <> 0`) is scored by profile-hit counts
  * with an argmax-lexicographic tie rule. The synthetic corpus shares one
  * vocabulary across languages, so the classifier is intentionally weak —
  * what these queries grade is the EVALUATION math, which is engine-exact:
  * every metric is integer counting until a single quantized division
  * (ppm integer division or one floor(x*1e6+0.5)/1e6 double readout).
  *
  * Scale shape: profile build reads the 25% train split once; scoring is
  * a broadcast hash join of test-doc trigrams against 150 profile rows +
  * one (doc, lang) count shuffle. The per-doc prediction relation is
  * built ONCE per (session, sf) and localCheckpoint-memoized (the
  * VectorOps codebook discipline) — all six metrics then reduce the
  * checkpointed ≤|docs| base, so the corpus-sized trigram work is paid a
  * single time however many metrics run. The oracle side keeps the full
  * pipeline in every statement, so the driver gate proves the memoized
  * route end-to-end against an unshared recompute.
  */
object EvalOps {

  /** Shared prediction CTE chain, dialect-parameterized.
    * Produces `pred(doc_id, lang, predicted)` over held-out docs and
    * `sc(doc_id, y, s_en, stot)` (binary task: is it English) for the
    * threshold-free metrics. Identical relational text in both engines;
    * only trigram extraction, explode, integer mod, and the broadcast
    * hint differ by dialect.
    */
  private def ctes(grams: String, un: String, train: String,
                   test: String, testT: String, bc: String): String =
    s"""d AS (SELECT doc_id, lang, $grams AS gs
       |      FROM documents WHERE length(text) >= 3),
       |tg AS (SELECT doc_id, lang, $un AS g FROM d),
       |prof AS (SELECT lang, g, count(*) AS c FROM tg
       |         WHERE $train GROUP BY lang, g),
       |top AS (SELECT lang AS plang, g FROM
       |          (SELECT lang, g,
       |             row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS rn
       |           FROM prof) r
       |        WHERE rn <= 30),
       |hits AS (SELECT $bc t.doc_id, p.plang, count(*) AS s
       |         FROM tg t JOIN top p ON t.g = p.g
       |         WHERE $testT GROUP BY t.doc_id, p.plang),
       |best AS (SELECT doc_id, plang FROM
       |           (SELECT doc_id, plang,
       |              row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, plang) AS rn
       |            FROM hits) x
       |         WHERE rn = 1),
       |minl AS (SELECT min(lang) AS ml FROM documents
       |         WHERE $train AND length(text) >= 3),
       |tst AS (SELECT doc_id, lang FROM documents
       |        WHERE length(text) >= 3 AND $test),
       |pred AS (SELECT tst.doc_id, tst.lang, coalesce(b.plang, minl.ml) AS predicted
       |         FROM tst LEFT JOIN best b ON b.doc_id = tst.doc_id
       |         CROSS JOIN minl),
       |sagg AS (SELECT doc_id,
       |           CAST(sum(CASE WHEN plang = 'en' THEN s ELSE 0 END) AS BIGINT) AS s_en,
       |           CAST(sum(s) AS BIGINT) AS stot
       |         FROM hits GROUP BY doc_id),
       |sc AS (SELECT tst.doc_id,
       |         CAST(CASE WHEN tst.lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
       |         coalesce(a.s_en, CAST(0 AS BIGINT)) AS s_en,
       |         coalesce(a.stot, CAST(0 AS BIGINT)) AS stot
       |       FROM tst LEFT JOIN sagg a ON a.doc_id = tst.doc_id)""".stripMargin

  // ---- metric statements ------------------------------------------------
  // Each takes `pre` = the WITH prefix providing `pred` and `sc` (the full
  // pipeline for the oracle; two thin views over the checkpointed base for
  // Spark) — the metric text below is byte-identical across engines.

  /** Confusion matrix over held-out docs — the raw (true, predicted, n)
    * relation every downstream metric derives from. Integer-exact. */
  private def confusionSql(pre: String): String =
    s"""WITH $pre
       |cf AS (SELECT lang, predicted FROM pred)
       |SELECT lang AS true_lang, predicted AS pred_lang,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM cf GROUP BY lang, predicted ORDER BY true_lang, pred_lang""".stripMargin

  /** Per-class precision / recall / F1 in exact ppm integer arithmetic,
    * computed from the ≤|langs|² confusion matrix (never the corpus);
    * zero denominators surface as NULL, not a division error. */
  private def prfSql(pre: String, idiv: String): String =
    s"""WITH $pre
       |conf AS (SELECT lang AS t, predicted AS p, CAST(count(*) AS BIGINT) AS n
       |         FROM pred GROUP BY lang, predicted),
       |cls AS (SELECT t AS cl FROM conf UNION SELECT p FROM conf),
       |m AS (SELECT c.cl,
       |        CAST(sum(CASE WHEN f.t = c.cl AND f.p = c.cl THEN f.n ELSE 0 END) AS BIGINT) AS tp,
       |        CAST(sum(CASE WHEN f.p = c.cl AND f.t <> c.cl THEN f.n ELSE 0 END) AS BIGINT) AS fp,
       |        CAST(sum(CASE WHEN f.t = c.cl AND f.p <> c.cl THEN f.n ELSE 0 END) AS BIGINT) AS fnn
       |      FROM cls c CROSS JOIN conf f GROUP BY c.cl)
       |SELECT cl AS lang, tp, fp, fnn AS fn,
       |  CASE WHEN tp + fp = 0 THEN CAST(NULL AS BIGINT)
       |       ELSE CAST(tp * 1000000 $idiv (tp + fp) AS BIGINT) END AS precision_ppm,
       |  CASE WHEN tp + fnn = 0 THEN CAST(NULL AS BIGINT)
       |       ELSE CAST(tp * 1000000 $idiv (tp + fnn) AS BIGINT) END AS recall_ppm,
       |  CASE WHEN 2 * tp + fp + fnn = 0 THEN CAST(NULL AS BIGINT)
       |       ELSE CAST(2 * tp * 1000000 $idiv (2 * tp + fp + fnn) AS BIGINT) END AS f1_ppm
       |FROM m ORDER BY cl""".stripMargin

  /** Cohen's kappa — chance-corrected agreement between truth and
    * prediction. Observed and expected agreement are exact BIGINT counts
    * (pe = Σ rowtotal·coltotal); the single double division is
    * floor-quantized. Accuracy rides along in ppm. */
  private def kappaSql(pre: String, idiv: String): String =
    s"""WITH $pre
       |k AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CASE WHEN lang = predicted THEN 1 ELSE 0 END) AS BIGINT) AS agree
       |      FROM pred),
       |rt AS (SELECT lang AS cl, CAST(count(*) AS BIGINT) AS r FROM pred GROUP BY lang),
       |ct AS (SELECT predicted AS cl, CAST(count(*) AS BIGINT) AS c FROM pred GROUP BY predicted),
       |pe AS (SELECT CAST(sum(rt.r * ct.c) AS BIGINT) AS pen
       |       FROM rt JOIN ct ON rt.cl = ct.cl)
       |SELECT n, agree,
       |  CAST(agree * 1000000 $idiv n AS BIGINT) AS accuracy_ppm,
       |  CASE WHEN n * n = pen THEN CAST(NULL AS DOUBLE)
       |       ELSE floor(CAST(n * agree - pen AS DOUBLE)
       |              / CAST(n * n - pen AS DOUBLE) * 1e6 + 0.5) / 1e6
       |  END AS kappa
       |FROM k CROSS JOIN pe""".stripMargin

  /** Exact ROC-AUC of the integer English-profile score against the
    * is-English label, via the grouped rank-sum (Mann–Whitney) identity
    * with the trapezoidal tie correction:
    *   AUC = Σ_s n_pos(s)·(2·cumneg_below(s) + n_neg(s)) / (2·P·N).
    * The numerator is an exact BIGINT (cumulative-below counts come from
    * a theta join of the ≤31 distinct integer scores against themselves —
    * no global window, never the corpus), so AUC lands as one exact ppm
    * integer division — no floating-point rank arithmetic anywhere. */
  private def aucSql(pre: String, idiv: String): String =
    s"""WITH $pre
       |gs2 AS (SELECT s_en AS sv, CAST(sum(y) AS BIGINT) AS np,
       |          CAST(count(*) - sum(y) AS BIGINT) AS nn
       |        FROM sc GROUP BY s_en),
       |w AS (SELECT a.sv, a.np, a.nn,
       |        CAST(coalesce(sum(b.nn), 0) AS BIGINT) AS cum_lt
       |      FROM gs2 a LEFT JOIN gs2 b ON b.sv < a.sv
       |      GROUP BY a.sv, a.np, a.nn),
       |t AS (SELECT CAST(sum(np) AS BIGINT) AS p, CAST(sum(nn) AS BIGINT) AS nneg,
       |        CAST(sum(np * (2 * cum_lt + nn)) AS BIGINT) AS num2
       |      FROM w)
       |SELECT p AS n_pos, nneg AS n_neg,
       |  CASE WHEN p = 0 OR nneg = 0 THEN CAST(NULL AS BIGINT)
       |       ELSE CAST(num2 * 1000000 $idiv (2 * p * nneg) AS BIGINT) END AS auc_ppm
       |FROM t""".stripMargin

  /** 10-bin calibration table for the Laplace-smoothed English
    * probability p = (s_en+1)/(stot+5). p is carried as an exact ppb
    * integer ((1e9·num) idiv den), the bin is the exact integer
    * (10·num) idiv den, and mean-predicted vs empirical rate per bin are
    * both exact ppm integer divisions — the whole table is float-free. */
  private def calibrationSql(pre: String, idiv: String): String =
    s"""WITH $pre
       |c AS (SELECT y, s_en + 1 AS pn, stot + 5 AS pd FROM sc),
       |b AS (SELECT least(9, (10 * pn) $idiv pd) AS bin, y,
       |        (1000000000 * pn) $idiv pd AS p_ppb FROM c)
       |SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
       |  CAST(sum(p_ppb) $idiv (count(*) * 1000) AS BIGINT) AS mean_p_ppm,
       |  CAST(sum(y) * 1000000 $idiv count(*) AS BIGINT) AS rate_ppm
       |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  /** Brier score of the same smoothed probability. Per-row squared error
    * is exact in ppb² BIGINT space (|p_ppb − y·1e9| ≤ 1e9 so the square
    * fits), summed as DECIMAL(38,0) to survive any corpus size, with ONE
    * double division at the end — the CHECK_sf1 float discipline. */
  private def brierSql(pre: String, idiv: String): String =
    s"""WITH $pre
       |c AS (SELECT y, s_en + 1 AS pn, stot + 5 AS pd FROM sc),
       |d2 AS (SELECT y, (1000000000 * pn) $idiv pd AS p_ppb FROM c),
       |e AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        sum(CAST((p_ppb - y * 1000000000) * (p_ppb - y * 1000000000)
       |            AS DECIMAL(38,0))) AS se
       |      FROM d2)
       |SELECT n,
       |  floor(CAST(se AS DOUBLE) / (CAST(n AS DOUBLE) * 1e18) * 1e6 + 0.5) / 1e6 AS brier
       |FROM e""".stripMargin

  // ---- ranking metrics ------------------------------------------------
  //
  // Retrieval scenario over the same self-contained classifier: each
  // language profile is a QUERY ("find documents of lang L"), its
  // ranking is the held-out docs ordered by profile-hit score (ties by
  // doc_id), and a retrieved doc is RELEVANT iff its true lang is L.
  // rk(qlang, rnk, rel, rtot) is the top-20 ranking with per-query
  // relevant-total — memoized on the Spark side like eval_base, full
  // chain on the oracle side.

  /** CTE tail extending [[ctes]]'s relations to the ranking base. */
  private val rankTail: String =
    """ranked AS (SELECT plang AS qlang, doc_id,
      |             row_number() OVER (PARTITION BY plang
      |                                ORDER BY s DESC, doc_id) AS rnk
      |           FROM hits),
      |lab AS (SELECT r.qlang, r.rnk,
      |          CAST(CASE WHEN t.lang = r.qlang THEN 1 ELSE 0 END AS BIGINT) AS rel
      |        FROM ranked r JOIN tst t ON t.doc_id = r.doc_id
      |        WHERE r.rnk <= 20),
      |rtotal AS (SELECT lang AS qlang, CAST(count(*) AS BIGINT) AS rtot
      |           FROM tst GROUP BY lang),
      |rk AS (SELECT l.qlang, l.rnk, l.rel, rt.rtot
      |       FROM lab l JOIN rtotal rt ON rt.qlang = l.qlang)""".stripMargin

  /** Discount-gain lookup: gain(r) = ⌊1e6/log2(r+1)+0.5⌋ as INTEGER
    * LITERALS — computing log2 at query time would put each engine's
    * libm in the result; a literal ppm table keeps NDCG exact BIGINT
    * arithmetic end to end. */
  private val gainRel: String =
    """(VALUES (1, 1000000), (2, 630930), (3, 500000), (4, 430677),
      |        (5, 386853), (6, 356207), (7, 333333), (8, 315465),
      |        (9, 301030), (10, 289065)) AS g(grnk, gain)""".stripMargin

  /** NDCG@10 per query: DCG = Σ rel·gain over the top 10; ideal DCG =
    * the gain prefix sum truncated at min(relevant-total, 10). */
  private def ndcgSql(pre: String, idiv: String): String =
    s"""WITH $pre
       |dcg AS (SELECT r.qlang, CAST(sum(r.rel * g.gain) AS BIGINT) AS dcg_ppm
       |        FROM rk r JOIN $gainRel ON g.grnk = r.rnk
       |        WHERE r.rnk <= 10 GROUP BY r.qlang),
       |rt AS (SELECT qlang, max(rtot) AS rtot FROM rk GROUP BY qlang),
       |idcg AS (SELECT rt.qlang, CAST(sum(g.gain) AS BIGINT) AS idcg_ppm
       |         FROM rt JOIN $gainRel ON g.grnk <= least(rt.rtot, 10)
       |         GROUP BY rt.qlang)
       |SELECT d.qlang, d.dcg_ppm, i.idcg_ppm,
       |  CAST(d.dcg_ppm * 1000000 $idiv i.idcg_ppm AS BIGINT) AS ndcg_ppm
       |FROM dcg d JOIN idcg i ON i.qlang = d.qlang
       |ORDER BY d.qlang""".stripMargin

  /** MRR: reciprocal rank of the first relevant result per query (NULL
    * when nothing relevant lands in the top 20). */
  private def mrrSql(pre: String, idiv: String): String =
    s"""WITH $pre
       |fr AS (SELECT qlang, min(CASE WHEN rel = 1 THEN rnk END) AS first_rel
       |       FROM rk GROUP BY qlang)
       |SELECT qlang, CAST(first_rel AS BIGINT) AS first_rel_rank,
       |  CAST(CASE WHEN first_rel IS NULL THEN NULL
       |            ELSE 1000000 $idiv first_rel END AS BIGINT) AS rr_ppm
       |FROM fr ORDER BY qlang""".stripMargin

  /** AP@20 per query: mean of precision@k over the relevant ranks k,
    * denominator min(relevant-total, 20); every step is BIGINT ppm. */
  private def mapSql(pre: String, idiv: String): String =
    s"""WITH $pre
       |pk AS (SELECT qlang, rnk, rel, rtot,
       |         sum(rel) OVER (PARTITION BY qlang ORDER BY rnk) AS cum
       |       FROM rk),
       |ap AS (SELECT qlang,
       |         CAST(sum(CASE WHEN rel = 1
       |                       THEN cum * 1000000 $idiv rnk
       |                       ELSE 0 END) AS BIGINT) AS sum_prec_ppm,
       |         max(rtot) AS rtot
       |       FROM pk GROUP BY qlang)
       |SELECT qlang, sum_prec_ppm,
       |  CAST(sum_prec_ppm $idiv least(rtot, 20) AS BIGINT) AS ap_ppm
       |FROM ap ORDER BY qlang""".stripMargin

  // ---- corpus BLEU ------------------------------------------------------
  //
  // BLEU-2 between deterministically paired documents (candidate = each
  // odd doc_id, reference = its predecessor): as with the classifier
  // metrics above, the pairing is intentionally artificial — what the
  // query grades is the BLEU MATH (clipped n-gram precision, brevity
  // penalty, geometric mean) as exact integer/quantized arithmetic.
  // Clipped matches and totals are BIGINT counts; p_n is ppm integer
  // division; the geometric mean is sqrt (IEEE-correctly-rounded,
  // engine-identical — no libm log chain); the brevity penalty is the
  // ONE libm call (exp), floor-quantized to ppm before use.

  /** (pair_id, side, n, gram) fan-out; `un`/`split`/`pairs` are the
    * engine's explode / string-split / adjacent-bigram spellings. */
  private def bleuGramSql(un: String => String, split: String,
                          pairs: String => String): String = {
    def side(txt: String, tag: String): String =
      s"""SELECT pair_id, '$tag' AS side, 1 AS n, ${un(s"$split($txt, ' ')")} AS g
         |FROM prs
         |UNION ALL
         |SELECT pair_id, '$tag' AS side, 2 AS n, ${un(pairs(s"$split($txt, ' ')"))} AS g
         |FROM prs""".stripMargin
    s"""WITH prs AS (SELECT c.doc_id AS pair_id, c.text AS ctext, r.text AS rtext
       |             FROM documents c JOIN documents r ON r.doc_id = c.doc_id - 1
       |             WHERE c.doc_id % 2 = 1
       |               AND length(c.text) > 0 AND length(r.text) > 0)
       |${side("ctext", "c")}
       |UNION ALL
       |${side("rtext", "r")}""".stripMargin
  }

  /** Shared scoring text over the gram relation `ref(pair_id, side, n, g)`;
    * every division is guarded for the empty corpus (ANSI DIV-by-zero). */
  private def bleuRestSql(ref: String, idiv: String): String =
    s"""WITH cc AS (SELECT pair_id, n, g, CAST(count(*) AS BIGINT) AS c
       |            FROM $ref WHERE side = 'c' GROUP BY pair_id, n, g),
       |rc AS (SELECT pair_id, n, g, CAST(count(*) AS BIGINT) AS c
       |       FROM $ref WHERE side = 'r' GROUP BY pair_id, n, g),
       |m AS (SELECT cc.n, CAST(sum(least(cc.c, rc.c)) AS BIGINT) AS matched
       |      FROM cc JOIN rc ON rc.pair_id = cc.pair_id
       |                     AND rc.n = cc.n AND rc.g = cc.g
       |      GROUP BY cc.n),
       |tot AS (SELECT n, CAST(sum(c) AS BIGINT) AS total FROM cc GROUP BY n),
       |agg AS (SELECT
       |    (SELECT matched FROM m WHERE n = 1) AS m1,
       |    (SELECT total FROM tot WHERE n = 1) AS t1,
       |    (SELECT matched FROM m WHERE n = 2) AS m2,
       |    (SELECT total FROM tot WHERE n = 2) AS t2,
       |    (SELECT CAST(count(*) AS BIGINT) FROM $ref
       |     WHERE side = 'c' AND n = 1) AS clen,
       |    (SELECT CAST(count(*) AS BIGINT) FROM $ref
       |     WHERE side = 'r' AND n = 1) AS rlen),
       |fin AS (SELECT m1, t1, m2, t2, clen, rlen,
       |    CASE WHEN t1 IS NULL OR t1 = 0 THEN CAST(NULL AS BIGINT)
       |         ELSE CAST(m1 * 1000000 $idiv t1 AS BIGINT) END AS p1_ppm,
       |    CASE WHEN t2 IS NULL OR t2 = 0 THEN CAST(NULL AS BIGINT)
       |         ELSE CAST(m2 * 1000000 $idiv t2 AS BIGINT) END AS p2_ppm,
       |    CASE WHEN clen IS NULL OR clen = 0 THEN CAST(NULL AS BIGINT)
       |         WHEN clen >= rlen THEN CAST(1000000 AS BIGINT)
       |         -- platform assumption (documented, monitored): this is
       |         -- the ONE libm call in the eval family — exp() is not
       |         -- IEEE-guaranteed correctly rounded, so Java's StrictMath
       |         -- -derived exp and DuckDB's libm exp could in principle
       |         -- differ by 1 ulp; bp_ppm flips only if that ulp lands
       |         -- exactly on a .5 ppm quantization boundary of
       |         -- exp(1 - rlen/clen), measured never on this corpus at
       |         -- all four SFs (clen > rlen paths; chrF is the libm-free
       |         -- sibling by design). If a port ever trips this, replace
       |         -- with an integer comparison of (rlen, clen) against
       |         -- precomputed ln-boundary rationals.
       |         ELSE CAST(floor(exp(1.0 - CAST(rlen AS DOUBLE)
       |                                   / CAST(clen AS DOUBLE)) * 1e6 + 0.5)
       |              AS BIGINT) END AS bp_ppm
       |  FROM agg)
       |SELECT m1, t1, m2, t2, clen, rlen, p1_ppm, p2_ppm, bp_ppm,
       |  CAST(floor(CAST(bp_ppm AS DOUBLE) / 1e6
       |             * sqrt(CAST(p1_ppm AS DOUBLE) * CAST(p2_ppm AS DOUBLE))
       |             + 0.5) AS BIGINT) AS bleu_ppm
       |FROM fin""".stripMargin

  // ---- chrF-2 -----------------------------------------------------------
  //
  // Character-n-gram F-score (Popović 2015) over the same doc pairing as
  // BLEU, n ∈ {1, 2}, β = 2 (recall weighted 4×). Unlike BLEU it needs
  // NO libm at all: clipped matches and totals are BIGINT counts, P/R
  // are ppm integer divisions, F_β = 5·P·R / (4·P + R) is exact integer
  // arithmetic on ppm values (products ≤ 1e12 — far inside BIGINT), and
  // the final score is the integer mean of F_1 and F_2.

  /** (pair_id, side, n, gram) char-gram fan-out WITH multiplicity;
    * `gram(txt, n)` is the engine's char-n-gram list expression. */
  private def chrfGramSql(gram: (String, Int) => String,
                          un: String => String): String = {
    def side(txt: String, tag: String): String =
      (1 to 2).map { n =>
        s"SELECT pair_id, '$tag' AS side, $n AS n, ${un(gram(txt, n))} AS g FROM prs"
      }.mkString("\nUNION ALL\n")
    s"""WITH prs AS (SELECT c.doc_id AS pair_id, c.text AS ctext, r.text AS rtext
       |             FROM documents c JOIN documents r ON r.doc_id = c.doc_id - 1
       |             WHERE c.doc_id % 2 = 1
       |               AND length(c.text) > 0 AND length(r.text) > 0)
       |${side("ctext", "c")}
       |UNION ALL
       |${side("rtext", "r")}""".stripMargin
  }

  /** Shared scoring text over the gram relation; zero-denominator cases
    * surface as NULL (empty corpus runs clean under ANSI). */
  private def chrfRestSql(ref: String, idiv: String): String = {
    def perN(n: Int): String =
      s"""(SELECT CAST(sum(least(cc.c, rc.c)) AS BIGINT)
         | FROM cc JOIN rc ON rc.pair_id = cc.pair_id AND rc.g = cc.g
         |              AND rc.n = cc.n
         | WHERE cc.n = $n) AS m$n,
         |(SELECT CAST(sum(c) AS BIGINT) FROM cc WHERE n = $n) AS tc$n,
         |(SELECT CAST(sum(c) AS BIGINT) FROM rc WHERE n = $n) AS tr$n""".stripMargin
    def f(n: Int): String =
      s"""CASE WHEN p$n IS NULL OR r$n IS NULL OR 4 * p$n + r$n = 0
         |     THEN CAST(NULL AS BIGINT)
         |     ELSE CAST(5 * p$n * r$n $idiv (4 * p$n + r$n) AS BIGINT)
         |END AS f$n""".stripMargin
    s"""WITH cc AS (SELECT pair_id, n, g, CAST(count(*) AS BIGINT) AS c
       |            FROM $ref WHERE side = 'c' GROUP BY pair_id, n, g),
       |rc AS (SELECT pair_id, n, g, CAST(count(*) AS BIGINT) AS c
       |       FROM $ref WHERE side = 'r' GROUP BY pair_id, n, g),
       |agg AS (SELECT ${perN(1)}, ${perN(2)}),
       |pr AS (SELECT m1, tc1, tr1, m2, tc2, tr2,
       |    CASE WHEN tc1 IS NULL OR tc1 = 0 THEN CAST(NULL AS BIGINT)
       |         ELSE CAST(m1 * 1000000 $idiv tc1 AS BIGINT) END AS p1,
       |    CASE WHEN tr1 IS NULL OR tr1 = 0 THEN CAST(NULL AS BIGINT)
       |         ELSE CAST(m1 * 1000000 $idiv tr1 AS BIGINT) END AS r1,
       |    CASE WHEN tc2 IS NULL OR tc2 = 0 THEN CAST(NULL AS BIGINT)
       |         ELSE CAST(m2 * 1000000 $idiv tc2 AS BIGINT) END AS p2,
       |    CASE WHEN tr2 IS NULL OR tr2 = 0 THEN CAST(NULL AS BIGINT)
       |         ELSE CAST(m2 * 1000000 $idiv tr2 AS BIGINT) END AS r2
       |  FROM agg)
       |SELECT m1, tc1, tr1, m2, tc2, tr2, p1, r1, p2, r2, ${f(1)}, ${f(2)},
       |  CAST((CASE WHEN p1 IS NULL OR r1 IS NULL OR 4 * p1 + r1 = 0 THEN NULL
       |             ELSE 5 * p1 * r1 $idiv (4 * p1 + r1) END
       |      + CASE WHEN p2 IS NULL OR r2 IS NULL OR 4 * p2 + r2 = 0 THEN NULL
       |             ELSE 5 * p2 * r2 $idiv (4 * p2 + r2) END) $idiv 2
       |    AS BIGINT) AS chrf_ppm
       |FROM pr""".stripMargin
  }

  // ---- dialect bindings ----------------------------------------------

  private val duckPre: String = ctes(
    grams = """list_distinct(list_transform(
              |             generate_series(1, length(lower(text)) - 2),
              |             i -> substring(lower(text), i, 3)))""".stripMargin,
    un = "unnest(gs)",
    train = "doc_id % 4 = 0",
    test = "doc_id % 4 <> 0",
    testT = "t.doc_id % 4 <> 0",
    bc = "") + ","

  /** Spark WITH prefix: thin views over the checkpointed base. */
  private val sparkPre: String =
    """pred AS (SELECT doc_id, lang, predicted FROM eval_base),
      |sc AS (SELECT doc_id, y, s_en, stot FROM eval_base),""".stripMargin

  /** Build (once per session+sf) the per-doc prediction base — the full
    * pipeline joined to one row per held-out doc — and checkpoint it.
    * Keyed on the session itself: `run` registers the memoized frame as a
    * temp view, which lands in the frame's own session, so a frame built
    * by another session on the same context would be invisible here. */
  private val memo = scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]()
  private def base(s: SparkSession, sf: String): DataFrame =
    memo.getOrElseUpdate((s, sf), {
      // documentsPar: the corpus is one input split; the exchange spreads
      // the trigram explode, not every char_ngrams call — same as
      // q_text_langid_ngram (TextOps), see Tables.documentsPar.
      Tables.documentsPar(s, sf).createOrReplaceTempView("documents")
      val full = ctes(
        grams = "array_distinct(char_ngrams(lower(text), 3))",
        un = "explode(gs)",
        train = "pmod(doc_id, 4) = 0",
        test = "pmod(doc_id, 4) <> 0",
        testT = "pmod(t.doc_id, 4) <> 0",
        bc = "/*+ BROADCAST(p) */")
      s.sql(
        s"""WITH $full
           |SELECT p.doc_id, p.lang, p.predicted, s.y, s.s_en, s.stot
           |FROM pred p JOIN sc s ON s.doc_id = p.doc_id""".stripMargin)
        .loopCheckpoint()
    })

  private def run(s: SparkSession, sf: String, sql: String): DataFrame = {
    base(s, sf).createOrReplaceTempView("eval_base")
    s.sql(sql)
  }

  /** Spark WITH prefix for the ranking metrics: one view over the
    * checkpointed rank base. */
  private val sparkRankPre: String =
    "rk AS (SELECT qlang, rnk, rel, rtot FROM rank_base),"

  /** Oracle WITH prefix: the full chain, classifier CTEs + rank tail. */
  private val duckRankPre: String = duckPre + rankTail + ","

  /** Build (once per session+sf) the top-20 ranking base and checkpoint
    * it — the eval_base discipline: corpus-sized trigram work paid once,
    * the three ranking metrics then reduce ≤ 20·|langs| rows. */
  private val rankMemo = scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]()
  private def rankBase(s: SparkSession, sf: String): DataFrame =
    rankMemo.getOrElseUpdate((s, sf), {
      Tables.documentsPar(s, sf).createOrReplaceTempView("documents")
      val full = ctes(
        grams = "array_distinct(char_ngrams(lower(text), 3))",
        un = "explode(gs)",
        train = "pmod(doc_id, 4) = 0",
        test = "pmod(doc_id, 4) <> 0",
        testT = "pmod(t.doc_id, 4) <> 0",
        bc = "/*+ BROADCAST(p) */") + "," + rankTail
      s.sql(s"WITH $full SELECT qlang, rnk, rel, rtot FROM rk")
        .loopCheckpoint()
    })

  private def runRank(s: SparkSession, sf: String, sql: String): DataFrame = {
    rankBase(s, sf).createOrReplaceTempView("rank_base")
    s.sql(sql)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_eval_confusion" -> ((s, sf) => run(s, sf, confusionSql(sparkPre))),
    "q_eval_prf" -> ((s, sf) => run(s, sf, prfSql(sparkPre, "DIV"))),
    "q_eval_kappa" -> ((s, sf) => run(s, sf, kappaSql(sparkPre, "DIV"))),
    "q_eval_auc" -> ((s, sf) => run(s, sf, aucSql(sparkPre, "DIV"))),
    "q_eval_calibration" -> ((s, sf) => run(s, sf, calibrationSql(sparkPre, "DIV"))),
    "q_eval_brier" -> ((s, sf) => run(s, sf, brierSql(sparkPre, "DIV"))),
    "q_eval_ndcg" -> ((s, sf) => runRank(s, sf, ndcgSql(sparkRankPre, "DIV"))),
    "q_eval_mrr" -> ((s, sf) => runRank(s, sf, mrrSql(sparkRankPre, "DIV"))),
    "q_eval_map" -> ((s, sf) => runRank(s, sf, mapSql(sparkRankPre, "DIV"))),
    // the gram fan-out feeds cc/rc/lens — materialize it once (the
    // multi-referenced-CTE discipline; Catalyst would inline it 4×)
    "q_eval_bleu" -> ((s, sf) => {
      Tables.documents(s, sf).createOrReplaceTempView("documents")
      s.sql(bleuGramSql(
        un = e => s"explode($e)", split = "split",
        pairs = t => s"zip_with(slice($t, 1, size($t) - 1), " +
          s"slice($t, 2, size($t) - 1), (x, y) -> concat(x, ' ', y))"))
        .loopCheckpoint()
        .createOrReplaceTempView("bleu_g")
      s.sql(bleuRestSql("bleu_g", "DIV"))
    }),
    "q_eval_chrf" -> ((s, sf) => {
      Tables.documents(s, sf).createOrReplaceTempView("documents")
      s.sql(chrfGramSql(
        gram = (txt, n) => s"char_ngrams($txt, $n)",
        un = e => s"explode($e)"))
        .loopCheckpoint() // feeds cc and rc — materialize once
        .createOrReplaceTempView("chrf_g")
      s.sql(chrfRestSql("chrf_g", "DIV"))
    }))

  def oracle: Map[String, String] = Map(
    "q_eval_confusion" -> confusionSql(duckPre),
    "q_eval_prf" -> prfSql(duckPre, "//"),
    "q_eval_kappa" -> kappaSql(duckPre, "//"),
    "q_eval_auc" -> aucSql(duckPre, "//"),
    "q_eval_calibration" -> calibrationSql(duckPre, "//"),
    "q_eval_brier" -> brierSql(duckPre, "//"),
    "q_eval_ndcg" -> ndcgSql(duckRankPre, "//"),
    "q_eval_mrr" -> mrrSql(duckRankPre, "//"),
    "q_eval_map" -> mapSql(duckRankPre, "//"),
    "q_eval_bleu" -> bleuRestSql(
      "(" + bleuGramSql(
        un = e => s"unnest($e)", split = "string_split",
        pairs = t => s"list_transform(list_zip($t[1:len($t)-1], $t[2:len($t)]), " +
          s"z -> concat(z[1], ' ', z[2]))") + ") bleu_g",
      "//"),
    "q_eval_chrf" -> chrfRestSql(
      "(" + chrfGramSql(
        gram = (txt, n) =>
          s"list_transform(generate_series(1, length($txt) - $n + 1), " +
            s"i -> substring($txt, i, $n))",
        un = e => s"unnest($e)") + ") chrf_g",
      "//"))
}
