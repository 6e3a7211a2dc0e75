package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Classical hypothesis tests as one-pass aggregations — the experiment
  * read-out (A/B test) and independence audit every analytics stack runs
  * over event logs. Formulas are the public textbook ones (Welch 1947;
  * Pearson 1900; Cramér 1946); everything reduces to per-group moment
  * aggregates, so the plan is a single hash aggregation over the data
  * followed by arithmetic on a k-row (group-count-sized) frame — at
  * 100 TB the data is touched exactly once and only k rows ever move
  * after the partial aggregation. Reference behavior spec: the
  * reference's pandas notebooks stop at groupby means
  * (`ETL-Description.ipynb`); the tests are the north-star analytics
  * surface of SURVEY.md §7.5.
  */
object Stats {

  /** Mean of a cent-valued double column, rounded HALF_UP (away from zero)
    * to 4 places, from an exact integer sum of cents. `round(avg(c), 4)`
    * sums floats in partition order, and on a half-tie (1,758,321 cents
    * over 72 rows = 244.21125) two summation orders round to opposite
    * sides; this is the same at any partitioning. NULL for a group with no
    * non-null value. The DuckDB twin is `OracleCtes.centsMean4Sql`.
    */
  def centsMean4(c: Column): Column = {
    val cents = sum(round(c * 100).cast("long"))
    val n = count(c)
    signum(cents) * call_function("div", abs(cents) * 200 + n, n * 2) / 10000.0
  }

  /** Welch's unequal-variance t-test between every pair of groups
    * (`group_a < group_b` lexically): per pair, the t statistic
    * `(μa − μb) / √(sa²/na + sb²/nb)` and the Welch–Satterthwaite
    * degrees of freedom. One moment aggregate (n, mean, sample var per
    * group), then a group-pairs self-join — k·(k−1)/2 rows for k groups,
    * never data-sized. `significant` flags |t| > 1.96 (the two-sided
    * 5% normal approximation — df is large for any corpus this runs on).
    */
  def welchPairs(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val st = df.groupBy(col(groupCol).as("g"))
      .agg(
        count(lit(1)).as("n"),
        avg(col(valueCol)).as("mean"),
        var_samp(col(valueCol)).as("vr"))
    val a = st.select(col("g").as("group_a"), col("n").as("n_a"),
      col("mean").as("mean_a"), col("vr").as("var_a"))
    val b = st.select(col("g").as("group_b"), col("n").as("n_b"),
      col("mean").as("mean_b"), col("vr").as("var_b"))
    val sa = col("var_a") / col("n_a")
    val sb = col("var_b") / col("n_b")
    val t = (col("mean_a") - col("mean_b")) / sqrt(sa + sb)
    val dfW = pow(sa + sb, 2) /
      (pow(sa, 2) / (col("n_a") - 1) + pow(sb, 2) / (col("n_b") - 1))
    a.join(b, col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        round(col("mean_a"), 4).as("mean_a"),
        round(col("mean_b"), 4).as("mean_b"),
        round(t, 4).as("t_stat"),
        round(dfW, 2).as("df_welch"),
        (abs(t) > lit(1.96)).as("significant"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns, plus Cramér's V effect size. One contingency aggregate
    * (r·c cells), margins by two cell-frame roll-ups, expected counts
    * `e = rowTot·colTot/n` — the data is scanned once; everything after
    * is cell-count-sized. Returns ONE row: (chi2, dof, n, cramers_v).
    */
  def chiSquare(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val cells = df.groupBy(col(rowCol).as("r"), col(colCol).as("c"))
      .agg(count(lit(1)).cast("double").as("o"))
      .localCheckpoint() // feeds margins and the cell sum — cell-count-sized
    val rowTot = cells.groupBy("r").agg(sum("o").as("rt"))
    val colTot = cells.groupBy("c").agg(sum("o").as("ct"))
    val n = cells.agg(sum("o").as("n"), countDistinct("r").as("nr"),
      countDistinct("c").as("nc"))
    cells.join(broadcast(rowTot), Seq("r")).join(broadcast(colTot), Seq("c"))
      .crossJoin(broadcast(n))
      .select(((col("o") - col("rt") * col("ct") / col("n")) *
        (col("o") - col("rt") * col("ct") / col("n")) /
        (col("rt") * col("ct") / col("n"))).as("term"),
        col("n"), col("nr"), col("nc"))
      .groupBy(col("n"), col("nr"), col("nc"))
      .agg(sum("term").as("chi2"))
      .select(
        round(col("chi2"), 4).as("chi2"),
        ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        col("n").cast("long").as("n"),
        round(sqrt(col("chi2") / (col("n") * least(col("nr") - 1, col("nc") - 1))), 4)
          .as("cramers_v"))
  }

  /** Divergence between two slices' categorical distributions —
    * KL(P‖Q), KL(Q‖P) and the bounded, symmetric Jensen–Shannon
    * divergence (natural log; Kullback & Leibler 1951, Lin 1991). The
    * mixture-monitoring read-out: "did the source mix of this week's
    * corpus drift from last week's?" complements [[graft.ops.Drift.psi]]
    * the way JS complements PSI in the public drift literature.
    *
    * Categories absent from one side make plain KL infinite; shares are
    * clamped at `eps` (the Drift.psi convention) so a novel category
    * surfaces as a LARGE finite term instead of poisoning the sum.
    * Returns ONE row: (n_categories, kl_pq, kl_qp, js), rounded to 6.
    *
    * Scale: one count aggregate per slice (category-sized after partial
    * aggregation), a category-sized full-outer join, then a 1-row sum —
    * the data is scanned once per slice, nothing downstream is
    * data-sized.
    */
  def distributionDivergence(
      p: DataFrame,
      q: DataFrame,
      catCol: String,
      eps: Double = 1e-6): DataFrame = {
    def shares(df: DataFrame, tag: String) = {
      val c = df.groupBy(col(catCol).as("cat"))
        .agg(count(lit(1)).cast("double").as("n"))
      c.crossJoin(broadcast(c.agg(sum("n").as("tot"))))
        .select(col("cat"), (col("n") / col("tot")).as(tag))
    }
    val joined = shares(p, "ps").join(shares(q, "qs"), Seq("cat"), "full_outer")
      .select(col("cat"),
        greatest(coalesce(col("ps"), lit(0.0)), lit(eps)).as("ps"),
        greatest(coalesce(col("qs"), lit(0.0)), lit(eps)).as("qs"))
    val m = (col("ps") + col("qs")) / 2
    joined
      .select(col("ps"), col("qs"),
        (col("ps") * log(col("ps") / col("qs"))).as("t_pq"),
        (col("qs") * log(col("qs") / col("ps"))).as("t_qp"),
        (col("ps") * log(col("ps") / m) / 2 + col("qs") * log(col("qs") / m) / 2).as("t_js"))
      .agg(count(lit(1)).as("n_categories"),
        round(sum("t_pq"), 6).as("kl_pq"),
        round(sum("t_qp"), 6).as("kl_qp"),
        round(sum("t_js"), 6).as("js"))
  }
}
