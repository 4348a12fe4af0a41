#!/usr/bin/env python
"""Matched-load A/B for the three r12-touched-but-slower paths
(VERDICT r12 item 3): q158 (contamination_profile staging shape),
q151 (planted-frame staging), q125 (learn_bpe checkpoint cadence).

Variants run INTERLEAVED in one session (A,B,C,A,B,C,...) so ambient
load hits all arms equally; report min/median of N samples each.
Usage: python tools/ab_r13.py [n_rounds]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import functions as F

    from cqs_spark.catalog import TESTDATA_TABLES, load_table
    from cqs_spark.session import get_spark

    spark = get_spark(app_name="cqs_spark-ab13", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).cache().count()
    spark.range(1000).mapInPandas(lambda it: it, "id long").toPandas()

    from cqs_spark.functions.text import word_shingles_arr, words
    from cqs_spark.operators import textops
    from cqs_spark.operators.curate import gate_flags
    from cqs_spark.partitioning import fan_out

    _r4 = lambda c: F.round(c.cast("decimal(30,10)"), 4).cast("double")  # noqa: E731

    # ---------- q158 variants ----------
    def contamination_variant(e_doc_shape: str):
        def op(corpus, eval_df, id_col, text_col, n=8):
            base_sel = eval_df.select(id_col, words(text_col).alias("_t"))
            if e_doc_shape == "r11_distinct":
                e_doc = base_sel.select(
                    id_col, F.explode(word_shingles_arr("_t", n)).alias("g")
                ).distinct()
            elif e_doc_shape == "r12_unstaged":
                e_doc = base_sel.select(
                    id_col,
                    F.explode(
                        F.array_distinct(word_shingles_arr("_t", n))
                    ).alias("g"),
                )
            else:
                raise ValueError(e_doc_shape)
            c_sh = (
                fan_out(corpus.select(id_col, text_col))
                .select(words(text_col).alias("_t"))
                .select(F.explode(word_shingles_arr("_t", n)).alias("g"))
            )
            hits = c_sh.join(
                F.broadcast(e_doc.select("g").distinct()), "g", "left_semi"
            ).distinct()
            per = e_doc.join(
                hits.withColumn("_hit", F.lit(1)), "g", "left"
            ).groupBy(id_col).agg(
                F.count(F.lit(1)).alias("total_grams"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                .cast("long")
                .alias("contaminated_grams"),
            )
            base = eval_df.select(id_col).join(per, id_col, "left")
            return base.select(
                id_col,
                F.coalesce(F.col("total_grams"), F.lit(0))
                .cast("long")
                .alias("total_grams"),
                F.coalesce(F.col("contaminated_grams"), F.lit(0))
                .cast("long")
                .alias("contaminated_grams"),
                F.when(
                    F.coalesce(F.col("total_grams"), F.lit(0)) == 0, F.lit(0.0)
                )
                .otherwise(
                    F.col("contaminated_grams").cast("double")
                    / F.col("total_grams").cast("double")
                )
                .alias("coverage"),
            )

        return op

    def q158_with(op):
        def run():
            docs = load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
            ev = docs.filter(F.col("doc_id") % 97 == 0)
            corpus = docs.filter(F.col("doc_id") % 97 != 0).unionByName(
                docs.filter(F.col("doc_id") % 194 == 0).select(
                    (F.col("doc_id") + 20011).alias("doc_id"), "text"
                )
            )
            out = op(corpus, ev, "doc_id", "text", 8)
            return out.select(
                "doc_id", "total_grams", "contaminated_grams",
                _r4(F.col("coverage")).alias("coverage"),
            ).orderBy("doc_id")

        return run

    # ---------- q151 variants ----------
    _JUNK = "the z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14 z15 z16 z17 z18 z19 z20 $$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$$"

    def q151_with(stage: str):
        def run():
            docs = load_table(spark, sf_dir, "documents")
            planted = docs.select(
                "doc_id",
                F.when(F.col("doc_id") % 7 == 3, F.lit(_JUNK)).otherwise(
                    F.concat(
                        F.col("text"),
                        F.when(
                            F.col("doc_id") % 5 == 0,
                            F.lit(" the and for der die les que los shi bu"),
                        ).otherwise(F.lit("")),
                    )
                ).alias("text"),
            )
            if stage == "lazy":
                planted = planted.localCheckpoint(eager=False)
            elif stage == "eager":
                planted = planted.localCheckpoint(eager=True)
            elif stage != "none":
                raise ValueError(stage)
            flags = gate_flags(
                planted, "doc_id", "text",
                keep_langs=("en",), min_quality=0.3, min_lang_confidence=0.5,
                gopher_min_words=20, gopher_min_stops=1,
            )
            return flags.select(
                "doc_id", "pred_lang", "confidence", "quality",
                F.col("_lang_ok").alias("lang_ok"),
                F.col("_q_ok").alias("q_ok"),
                F.col("_g_ok").alias("g_ok"),
                F.col("_rep_ok").alias("rep_ok"),
            ).orderBy("doc_id")

        return run

    # ---------- q125 variants ----------
    def learn_bpe_variant(eager: bool, df, text_col, num_merges):
        wrds = (
            df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("f"))
        )
        units = wrds.select(
            "w", "f", F.expr("regexp_extract_all(w, '.', 0)").alias("syms")
        ).localCheckpoint(eager=eager)
        merges = []
        for step in range(num_merges):
            pairs = units.select(
                "f",
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1),"
                        " (x, i) -> struct(x AS a, element_at(syms, i + 2) AS b))"
                    )
                ).alias("p"),
            ).select("f", "p.a", "p.b")
            best = (
                pairs.groupBy("a", "b")
                .agg(F.sum("f").alias("cnt"))
                .orderBy(F.desc("cnt"), "a", "b")
                .first()
            )
            if best is None:
                break
            a, b = best["a"], best["b"]
            merges.append((step, a, b, int(best["cnt"])))
            la, lb, lm = F.lit(a), F.lit(b), F.lit(a + b)
            units = units.withColumn(
                "syms",
                F.aggregate(
                    F.slice("syms", F.lit(2), F.size("syms") - 1),
                    F.slice("syms", F.lit(1), F.lit(1)),
                    lambda acc, x: F.when(
                        (F.element_at(acc, -1) == la) & (x == lb),
                        F.concat(
                            F.slice(acc, F.lit(1), F.size(acc) - 1),
                            F.array(lm),
                        ),
                    ).otherwise(F.concat(acc, F.array(x))),
                ),
            ).localCheckpoint(eager=eager)
        return spark.createDataFrame(
            merges, "step long, left_sym string, right_sym string, weight long"
        )

    def q125_with(eager):
        def run():
            docs = load_table(spark, sf_dir, "documents")
            if eager is None:  # current operator
                out = textops.learn_bpe(docs, "text", 8)
            else:
                out = learn_bpe_variant(eager, docs, "text", 8)
            return out.orderBy("step")

        return run

    suites = {
        "q158": {
            "current": q158_with(
                lambda c, e, i, t, n: textops.contamination_profile(
                    c, e, i, t, n
                )
            ),
            "r12_unstaged": q158_with(contamination_variant("r12_unstaged")),
            "r11_distinct": q158_with(contamination_variant("r11_distinct")),
        },
        "q151": {
            "lazy_r12": q151_with("lazy"),
            "none_r11": q151_with("none"),
            "eager": q151_with("eager"),
        },
        "q125": {
            "current_lazy": q125_with(None),
            "eager_r11": q125_with(True),
        },
    }

    results: dict = {}
    ref: dict = {}
    for qname, variants in suites.items():
        results[qname] = {v: [] for v in variants}
        for r in range(rounds):
            for vname, fn in variants.items():
                t0 = time.perf_counter()
                pdf = fn().toPandas()
                dt = round(time.perf_counter() - t0, 3)
                results[qname][vname].append(dt)
                h = hash(tuple(map(tuple, pdf.astype(str).values.tolist())))
                if qname not in ref:
                    ref[qname] = h
                elif h != ref[qname]:
                    print(f"!! ROW MISMATCH {qname} {vname}", file=sys.stderr)
        print(
            qname,
            json.dumps(
                {
                    v: {"min": min(s), "med": sorted(s)[len(s) // 2], "all": s}
                    for v, s in results[qname].items()
                }
            ),
            flush=True,
        )
    print(json.dumps({"load": os.getloadavg()}))


if __name__ == "__main__":
    main()
