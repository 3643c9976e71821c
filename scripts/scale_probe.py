"""Empirical scale probe (VERDICT r4 next #5): measure candidate-count
and wall-time growth of the dedup/ANN candidate-generation bounds over
a 10x corpus-size step with FIXED duplicate structure.

Construction: every base document gets 3 perturbed near-dup copies
(appended tail tokens / nudged first embedding component), so dup
clusters have constant size 4 at both scales and the only variable is
corpus size: small = 10% of sf0.1 (+copies), large = all of sf0.1
(+copies) — exactly 10x. If banding / the df cap / SRP bucketing bound
superlinear growth as SCALE.md claims analytically, candidate counts
and wall times must grow ~linearly (~10x; wall-time ratios land BELOW
10x at these sizes because per-job constant overhead dominates the
small scale on 32 cores).

Candidate counts are measured by running each pair operator with its
verification threshold disabled (threshold 0 / -1): the output then IS
the deduped candidate set.

Usage: python scripts/scale_probe.py [sf_dir]  -> one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from chapterhousedb_spark.operators.dedup import (
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    release_self_join_caches,
)
from chapterhousedb_spark.operators.similarity import embedding_near_dup_pairs
from chapterhousedb_spark.session import build_session

N_COPIES = 3


def blow_up_docs(docs):
    parts = [docs]
    for r in range(1, N_COPIES + 1):
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(r * 10_000_000)).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(f" probe copy tail {r} variant")
                ).alias("text"),
            )
        )
    out = parts[0].select("doc_id", "text")
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def blow_up_embs(embs):
    parts = [embs.select("vec_id", "embedding")]
    for r in range(1, N_COPIES + 1):
        parts.append(
            embs.select(
                (F.col("vec_id") + F.lit(r * 10_000_000)).alias("vec_id"),
                F.expr(
                    f"transform(embedding, (x, i) -> x + CASE WHEN i = 0 "
                    f"THEN CAST(0.003 * {r} AS FLOAT) ELSE CAST(0 AS FLOAT) END)"
                ).alias("embedding"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def timed_count(df) -> tuple[int, float]:
    t0 = time.perf_counter()
    n = df.count()
    return n, round(time.perf_counter() - t0, 3)


def probe(spark, docs, embs) -> dict:
    out: dict = {"n_docs": docs.count(), "n_vecs": embs.count()}
    # candidate sets = thresholds disabled; real outputs = default thresholds
    n, t = timed_count(
        ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=50)
    )
    release_self_join_caches()
    out["ngram_candidates"], out["ngram_candidates_sec"] = n, t
    n, t = timed_count(
        ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=50)
    )
    release_self_join_caches()
    out["ngram_pairs"], out["ngram_pairs_sec"] = n, t
    n, t = timed_count(minhash_near_dup_pairs(docs, threshold=0.0))
    release_self_join_caches()
    out["minhash_candidates"], out["minhash_candidates_sec"] = n, t
    n, t = timed_count(minhash_near_dup_pairs(docs, threshold=0.7))
    release_self_join_caches()
    out["minhash_pairs"], out["minhash_pairs_sec"] = n, t
    n, t = timed_count(embedding_near_dup_pairs(embs, threshold=-1.0))
    release_self_join_caches()
    out["embedding_candidates"], out["embedding_candidates_sec"] = n, t
    n, t = timed_count(embedding_near_dup_pairs(embs, threshold=0.95))
    release_self_join_caches()
    out["embedding_pairs"], out["embedding_pairs_sec"] = n, t
    # duplicate_spans is token-granular (positions ~ corpus tokens); the
    # df band (min_df=2, capped) must keep OUTPUT spans ~linear in the
    # duplicate structure. The blown-up corpus repeats every base doc's
    # windows 4x, so spans scale with docs — ratio ~10x proves the
    # groupBy+join-back df shape adds no superlinear term.
    from chapterhousedb_spark.operators.dedup import duplicate_spans

    n, t = timed_count(
        duplicate_spans(docs, span_tokens=16, max_doc_freq=1000)
    )
    release_self_join_caches()
    out["span_rows"], out["span_rows_sec"] = n, t
    # round-6 operators: tfidf is 3 shuffles (term tf, token df, per-doc
    # top-k window) — output is k rows/doc so rows AND time must stay
    # ~linear; table_diff is one digest full-outer join — diff the
    # corpus against itself with planted edits (every 7th doc changed,
    # every 13th dropped), change rows scale with docs.
    from chapterhousedb_spark.operators.diff import table_diff
    from chapterhousedb_spark.operators.text import tfidf_top_terms

    n, t = timed_count(tfidf_top_terms(docs, k=3))
    out["tfidf_rows"], out["tfidf_rows_sec"] = n, t
    # ngram repetition coverage: output is exactly one row per doc and
    # the gram table is ~9x tokens — both rows and time must stay
    # ~linear over the 10x step (round 9)
    from chapterhousedb_spark.operators.text import ngram_repetition_stats

    n, t = timed_count(ngram_repetition_stats(docs))
    out["ngram_rep_rows"], out["ngram_rep_rows_sec"] = n, t
    edited = docs.filter(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" x"))
        ).otherwise(F.col("text")),
    )
    n, t = timed_count(table_diff(docs, edited, keys=["doc_id"]))
    out["diff_rows"], out["diff_rows_sec"] = n, t
    # round-7 operators: rarity is postings + df join + per-doc agg
    # (rows == docs by construction); token_budget_mix is the bucket-
    # decomposed prefix sum (budget scaled with corpus so the admitted
    # set stays proportional); pair_features joins a consecutive-id
    # pair set to token arrays (pairs ~ docs).
    from chapterhousedb_spark.operators.dedup import pair_features
    from chapterhousedb_spark.operators.sampling import token_budget_mix
    from chapterhousedb_spark.operators.text import rarity_stats, token_count

    n, t = timed_count(rarity_stats(docs, common_k=200))
    out["rarity_rows"], out["rarity_rows_sec"] = n, t
    n_docs = out["n_docs"]
    mix_in = docs.select(
        "doc_id",
        (F.col("doc_id") % 4).cast("string").alias("source"),
        token_count("text").cast("long").alias("n_tok"),
    )
    budgets = {str(s): 15 * n_docs for s in range(4)}  # ~60 tokens/doc avg
    n, t = timed_count(token_budget_mix(mix_in, budgets, token_col="n_tok"))
    out["mix_rows"], out["mix_rows_sec"] = n, t
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    n, t = timed_count(pair_features(pairs, docs))
    out["pairfeat_rows"], out["pairfeat_rows_sec"] = n, t
    # round-8: the composed two-stage rerank pipeline (LSH candidates
    # -> exact token-set features -> threshold). Confirmed pairs track
    # the duplicate structure, which the blow-up repeats per copy, so
    # rows AND wall must stay ~linear in the corpus.
    from chapterhousedb_spark.operators.dedup import two_stage_dedup

    n, t = timed_count(two_stage_dedup(docs, jaccard_threshold=0.5))
    release_self_join_caches()
    out["two_stage_rows"], out["two_stage_rows_sec"] = n, t
    # round-9 operators: semantic-dedup survivors (pair stage == the
    # measured embedding gate + one id-keyed anti join; survivors track
    # corpus size, the blow-up's 4-clusters collapse to ~1 survivor
    # each) and bigram LM stats (postings explode + bg-keyed count join
    # + per-doc agg — rows == docs, the rarity_stats economics on the
    # adjacency key).
    from chapterhousedb_spark.operators.similarity import (
        embedding_dedup_survivors,
    )
    from chapterhousedb_spark.operators.text import bigram_lm_stats

    n, t = timed_count(embedding_dedup_survivors(embs, threshold=0.95))
    release_self_join_caches()
    out["semdedup_rows"], out["semdedup_rows_sec"] = n, t
    n, t = timed_count(bigram_lm_stats(docs, min_count=2))
    out["bigram_rows"], out["bigram_rows_sec"] = n, t
    # span REWRITE: output rows == docs by construction; the blown-up
    # corpus duplicates every base doc's windows 4x so removal volume
    # scales with docs — ~10x rows at ~linear wall proves the extra
    # range-explode + (doc,pos) anti join add no superlinear term over
    # the already-measured duplicate_spans machinery.
    from chapterhousedb_spark.operators.dedup import remove_duplicate_spans

    n, t = timed_count(
        remove_duplicate_spans(docs, span_tokens=16, max_doc_freq=1000)
    )
    release_self_join_caches()
    out["span_rewrite_rows"], out["span_rewrite_rows_sec"] = n, t
    # quality classifier: each IRLS iteration is ONE map-side-combined
    # aggregate scan returning ~35 decimals — wall must grow with the
    # SCAN (sublinear at these sizes, never superlinear), and the
    # fitted coefficients are bit-deterministic regardless of scale.
    import time as _time

    from chapterhousedb_spark.operators.classifier import (
        train_quality_classifier,
    )

    labeled = docs.withColumn(
        "source", (F.col("doc_id") % 4).cast("string")
    )
    t0 = _time.perf_counter()
    _beta, scored = train_quality_classifier(
        labeled, positive_sources=["0"], negative_sources=["1"], iters=4
    )
    n = scored.count()
    out["classifier_rows"] = n
    out["classifier_rows_sec"] = round(_time.perf_counter() - t0, 3)
    # round-10: Gopher quality heuristics — a pure single-scan JVM
    # projection (rows == docs by construction); wall must track the
    # scan, never a shuffle term (there is none in the plan).
    from chapterhousedb_spark.operators.text import gopher_quality_stats

    n, t = timed_count(gopher_quality_stats(docs))
    out["gopher_rows"], out["gopher_rows_sec"] = n, t
    # round-10: large-star/small-star components on the ADVERSARIAL
    # shape (one chain over all docs — diameter n). Rounds must grow
    # ~log^2(n), NOT with n: the 10x step adds at most a few
    # alternations while min-label would need 10x the rounds. Probed
    # here because the dup-shaped graphs above never exercise depth.
    from pyspark.sql.window import Window

    from chapterhousedb_spark.operators import cluster

    # round-10: document-integrity packing — the BFD pass sees (id,
    # length) pairs only, so rows == docs and wall tracks the word
    # count scan + one shard shuffle (~linear), never the text volume
    # inside the packing state.
    from chapterhousedb_spark.operators.text import pack_best_fit

    n, t = timed_count(pack_best_fit(docs, budget=256, n_shards=8))
    out["bfd_rows"], out["bfd_rows_sec"] = n, t
    ids = docs.select(F.col("doc_id").alias("id_a"))
    chain = ids.withColumn(
        "id_b", F.lead("id_a").over(Window.orderBy("id_a"))
    ).filter(F.col("id_b").isNotNull())
    # the star loop runs EAGERLY inside the call (localCheckpoint per
    # round), so time construction + count together, and assert the
    # chain actually collapsed to ONE component (the adversarial case).
    # The probe measures the distributed rounds, so the cap is forced
    # to 0: a chain this size would otherwise be solved on the driver.
    t0 = _time.perf_counter()
    cap, cluster._LOCAL_MAX_ROWS = cluster._LOCAL_MAX_ROWS, 0
    try:
        lab = cluster.connected_components_star(chain)
        n_comp = lab.select("component").distinct().count()
        n = lab.count()
    finally:
        cluster._LOCAL_MAX_ROWS = cap
    out["star_chain_rows"] = n
    out["star_chain_rows_sec"] = round(_time.perf_counter() - t0, 3)
    out["star_chain_components"] = n_comp
    # round-11 operators:
    # key_skew — ONE rollup shuffle moving (key, count) partials plus a
    # TakeOrdered; output is fixed k+shape so only TIME must stay
    # ~linear (at these sizes per-job constants dominate, so the wall
    # ratio lands well below 10x — the shuffle bytes are the bound).
    from chapterhousedb_spark.operators.profile import key_skew

    n, t = timed_count(key_skew(docs, "doc_id", k=20))
    out["key_skew_rows"], out["key_skew_rows_sec"] = n, t
    # url_dedup — a narrow regex projection + one exact groupBy on the
    # canonical string; the blown-up corpus plants 4 URL variants per
    # base doc, so output groups scale with docs (~10x) and the shuffle
    # moves one (canon, id) pair per row.
    from chapterhousedb_spark.operators.urls import url_dedup

    planted_urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://Example.COM:80/d/"),
            (F.col("doc_id") % 10_000_000).cast("string"),
            F.lit("/?utm_source=probe&id="),
            (F.col("doc_id") % 4).cast("string"),
            F.lit("#frag"),
        ).alias("url"),
    )
    n, t = timed_count(url_dedup(planted_urls))
    out["url_dedup_rows"], out["url_dedup_rows_sec"] = n, t
    # registered-domain extraction — staged JVM projections + two
    # ~200-row broadcast suffix joins (round-12 rebuild), no data
    # shuffle; rows == docs, time ~scan speed. Reuses the planted urls
    # with a co.uk twist so the snapshot match is load-bearing at both
    # scales.
    from chapterhousedb_spark.operators.urls import url_registered_domain

    etld_urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://sub"),
            (F.col("doc_id") % 1000).cast("string"),
            F.lit(".reg"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(".co.uk/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    n, t = timed_count(
        url_registered_domain(etld_urls).filter(
            F.col("registered_domain").isNotNull()
        )
    )
    out["url_etld_rows"], out["url_etld_rows_sec"] = n, t
    # unigram segmentation — shuffle-free broadcast-model mapInPandas;
    # rows == docs, time ~linear in corpus chars. The model is trained
    # ONCE on the small slice and reused at both scales (segmentation
    # is the 100 TB path; training runs over the Zipf-compressed word
    # table and is probed by its own unit timings).
    from chapterhousedb_spark.operators.text import (
        unigram_segment,
        unigram_train,
    )

    if not hasattr(probe, "_uni_model"):
        # deterministic slice (ADVICE r11 #1): LIMIT without ORDER BY is
        # nondeterministic in Spark, so the probe model — and hence the
        # segmentation timings — could differ between runs and between
        # the small/large invocations; a key filter picks the same docs
        # every time
        probe._uni_model = unigram_train(
            docs.filter(F.col("doc_id") < 2000), vocab_size=40, max_piece_len=5
        )
    n, t = timed_count(unigram_segment(docs, probe._uni_model))
    out["unigram_seg_rows"], out["unigram_seg_rows_sec"] = n, t
    # char-n-gram langid scoring — pure JVM projection (one md5 per
    # gram, 4-lane fold); rows == docs, time ~linear in chars.
    from chapterhousedb_spark.operators.classifier import lang_ngram_score

    fixed_betas = {
        lang: [0.1 * (li + 1)] + [0.01 * (li + j) for j in range(16)]
        for li, lang in enumerate(("en", "es", "de", "fr"))
    }
    n, t = timed_count(
        lang_ngram_score(docs, fixed_betas, num_buckets=16)
    )
    out["langid_rows"], out["langid_rows_sec"] = n, t
    # Kneser-Ney bigram LM — one bigram-keyed explode/count shuffle +
    # three bounded count tables + the instance join; rows == docs
    # (with >= 2 tokens), time ~linear in corpus bigrams.
    from chapterhousedb_spark.operators.text import kneser_ney_bigram

    n, t = timed_count(kneser_ney_bigram(docs))
    out["kn_rows"], out["kn_rows_sec"] = n, t
    # round-12 CCNet composition — langid gate (scan-speed) + KN over
    # the gated subset + the bounded bin-histogram tercile cutoffs
    # (<= 2^16 * range bins regardless of corpus size); rows track the
    # gated subset (~linear in docs), wall dominated by the KN stage's
    # bigram shuffle. Gate on the majority predicted lang so the gated
    # subset is never empty under the probe's arbitrary fixed betas.
    from pyspark.sql.window import Window

    # same fan-out rationale as the dsir probe below: the trigram gate
    # is md5-dense and the probe corpus is partition-poor
    scored = lang_ngram_score(
        docs.repartition(spark.sparkContext.defaultParallelism, "doc_id"),
        fixed_betas, num_buckets=16, keep_cols=("text",)
    )
    major = (
        scored.groupBy("lang_pred")
        .count()
        .orderBy(F.desc("count"), "lang_pred")
        .first()["lang_pred"]
    )
    gated = scored.filter(F.col("lang_pred") == major).select(
        "doc_id", "text"
    )
    fl = kneser_ney_bigram(gated).select(
        "doc_id", F.col("mean_kn_prob").alias("fluency")
    )
    binned = fl.withColumn(
        "bin", F.floor(F.col("fluency") * F.lit(65536.0)).cast("bigint")
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "bin",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    )
    cuts = cum.agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("total"), F.col("bin"))).alias("c1"),
        F.min(F.when(F.col("cum") * 3 >= F.col("total") * 2, F.col("bin"))).alias("c2"),
    )
    bucketed = binned.join(F.broadcast(cuts)).select(
        "doc_id",
        F.when(F.col("bin") <= F.col("c1"), F.lit("tail"))
        .when(F.col("bin") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("head"))
        .alias("bucket"),
    )
    n, t = timed_count(bucketed)
    out["ccnet_rows"], out["ccnet_rows_sec"] = n, t
    # round-12 line-level dedup — one line-keyed groupBy + join back +
    # per-doc reassembly; rows == docs (every doc survives), time
    # ~linear in corpus lines. Planted headers/footers create the
    # Zipf-heavy duplicate keys the map-side combine collapses.
    from chapterhousedb_spark.operators.dedup import line_dedup

    lined = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("HOME | NAV | BAR"),
            F.concat(
                F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 80),
                F.lit(" #"),
                F.col("doc_id").cast("string"),
            ),
            F.concat(
                F.lit("footer "), (F.col("doc_id") % 11).cast("string")
            ),
        ).alias("text"),
    )
    n, t = timed_count(line_dedup(lined))
    out["line_dedup_rows"], out["line_dedup_rows_sec"] = n, t
    # round-12 DSIR — two bounded bucket histograms (model <= 1024
    # rows at any corpus size) + a broadcast-model join + one per-doc
    # fold shuffle; rows == docs, time ~linear in corpus grams.
    from chapterhousedb_spark.operators.dsir import dsir_score, dsir_train

    # mirror the headline query's fan-out: the gram hashing is
    # compute-dense and the probe corpus arrives in a handful of
    # partitions, so without this the stage under-parallelizes and the
    # wall measures partition count, not operator cost (the A/B that
    # picked the one-scan gram shape showed equal total core-seconds
    # across shapes but 2x wall swings from partition-count artifacts)
    fan = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    model = dsir_train(
        fan.filter(F.col("doc_id") % 7 == 0), fan, num_buckets=1024
    )
    n, t = timed_count(
        dsir_score(fan, model, num_buckets=1024, log_weight=False)
    )
    release_self_join_caches()
    out["dsir_rows"], out["dsir_rows_sec"] = n, t
    # round-12 cluster-blocked SemDeDup — the HONESTLY quadratic
    # stage: within-cell pair count grows ~(rows/cells)^2 per cell, so
    # the 10x step should show ~100x pair work split over 16 cells;
    # survivors == rows (no natural near-dups), time tracks the pair
    # join. Keys are semdedup_cells_* — semdedup_rows_* already names
    # the round-9 SRP-blocked probe above (round-12 review fix).
    # 16 dyadic centroids, same family as the gated row.
    from chapterhousedb_spark.operators.similarity import (
        semdedup_survivors,
    )

    sd_cents = [
        [((c * 29 + j * 13) % 17 - 8) / 16.0 for j in range(64)]
        for c in range(16)
    ]
    n, t = timed_count(
        semdedup_survivors(
            embs.select("vec_id", "embedding"), sd_cents, threshold=0.45
        )
    )
    out["semdedup_cells_rows"], out["semdedup_cells_rows_sec"] = n, t
    release_self_join_caches()
    return out


# the recommended SRP config (VERDICT r14 #5): multi-table LSH at
# planes=12, multiprobe=3, 6 independent tables — the cheapest swept
# config clearing recall@10 >= 0.8 on the probe corpus (which is
# near-uniform synthetic data, LSH's WORST case; clustered real
# embeddings reach the same recall with fewer tables/probes). The
# per-table probe set is 299 of 4096 buckets; the 6-table union's
# realized candidate fraction is measured and recorded per run as
# srp_recommended.scanned_frac.
_SRP_TABLE_SEEDS = [7, 101, 211, 307, 401, 503]
_SRP_RECOMMENDED = {"planes": 12, "multiprobe": 3, "tables": 6}


def probe_recall(spark, embs, n_queries: int = 20, curve: bool = False) -> dict:
    """ANN recall@10 vs exact brute force (VERDICT r7 #4, curve per
    r14 #5): the headline srp_recall_at_10 is the RECOMMENDED
    multi-table config (_SRP_RECOMMENDED — recall compounds
    1-(1-p)^T across tables where multiprobe alone plateaus, measured
    0.83 vs 0.40 for the old planes=16/multiprobe=1 default, which
    stays recorded as srp_default_recall_at_10); IVF stays n_cells=16,
    nprobe=4, centroids fit once and reused across queries (the
    production shape). Queries are the first `n_queries` corpus
    vectors by id, so the true top-1 (the vector itself) is always
    reachable and recall isolates bucket/cell pruning loss.
    curve=True additionally sweeps table count at the recommended
    planes/multiprobe (srp_recall_curve — the recall-vs-cost curve
    users tune against, alongside the equivalence guarantees:
    nprobe=n_cells == brute force, multiprobe=planes == full scan)."""
    from chapterhousedb_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
        ivf_fit,
        srp_ann_topk,
    )

    from chapterhousedb_spark.operators.similarity import (
        srp_probe_buckets,
        srp_signature,
    )
    from pyspark.sql import functions as F

    qs = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in embs.orderBy("vec_id").limit(n_queries).collect()
    ]
    dims = len(qs[0][1])
    centroids = ivf_fit(embs, "embedding", n_cells=16, seed=7, max_iter=5)
    n_corpus = embs.count()
    rec_p, rec_mp = _SRP_RECOMMENDED["planes"], _SRP_RECOMMENDED["multiprobe"]
    rec_seeds = _SRP_TABLE_SEEDS[: _SRP_RECOMMENDED["tables"]]
    # PRODUCTION shape: every table's signature column is computed ONCE
    # at write time (the srp_write_index-per-seed layout); per-query
    # cost is the bucket filter + exact rerank over candidates. The
    # build wall is reported separately — inlining the signatures into
    # every query (r14's shape) measured fit cost, not probe cost.
    t0 = time.perf_counter()
    tabled = embs.select(
        "vec_id",
        "embedding",
        *[
            srp_signature("embedding", rec_p, dims, s).alias(f"t{i}")
            for i, s in enumerate(rec_seeds)
        ],
    ).persist()
    tabled.count()
    t_srp_build = time.perf_counter() - t0

    def srp_query_buckets(qv):
        qdf = spark.range(1).select(
            F.array(*[F.lit(float(v)) for v in qv]).alias("qv")
        )
        return qdf.select(
            *[
                srp_signature("qv", rec_p, dims, s).alias(f"b{i}")
                for i, s in enumerate(rec_seeds)
            ]
        ).collect()[0]

    def srp_tabled(qv, n_tables):
        qrow = srp_query_buckets(qv)
        cond = None
        for i in range(n_tables):
            probes = srp_probe_buckets(qrow[f"b{i}"], rec_p, rec_mp)
            c = F.col(f"t{i}").isin(probes)
            cond = c if cond is None else (cond | c)
        cand = tabled.filter(cond).select("vec_id", "embedding")
        return {r["vec_id"] for r in cosine_topk(cand, qv, k=10).collect()}

    srp_hits = srp_def_hits = ivf_hits = 0
    t_srp = t_srp_def = t_ivf = t_exact = 0.0
    exact_by_q = {}
    for qid, qv in qs:
        t0 = time.perf_counter()
        exact = {r["vec_id"] for r in cosine_topk(embs, qv, k=10).collect()}
        t_exact += time.perf_counter() - t0
        exact_by_q[qid] = exact
        t0 = time.perf_counter()
        srp = srp_tabled(qv, len(rec_seeds))
        t_srp += time.perf_counter() - t0
        # legacy default (planes=16, multiprobe=1, one table), inline
        # signatures — kept for cross-round comparability
        t0 = time.perf_counter()
        srp_def = {
            r["vec_id"] for r in srp_ann_topk(embs, qv, k=10).collect()
        }
        t_srp_def += time.perf_counter() - t0
        t0 = time.perf_counter()
        ivf = {
            r["vec_id"]
            for r in ivf_ann_topk(embs, qv, k=10, centroids=centroids).collect()
        }
        t_ivf += time.perf_counter() - t0
        srp_hits += len(srp & exact)
        srp_def_hits += len(srp_def & exact)
        ivf_hits += len(ivf & exact)
    # realized candidate fraction of the recommended config (mean over
    # the first 5 queries): the honest scan cost next to the recall
    fracs = []
    for _, qv in qs[:5]:
        qrow = srp_query_buckets(qv)
        cond = None
        for i in range(len(rec_seeds)):
            probes = srp_probe_buckets(qrow[f"b{i}"], rec_p, rec_mp)
            c = F.col(f"t{i}").isin(probes)
            cond = c if cond is None else (cond | c)
        fracs.append(tabled.filter(cond).count() / max(n_corpus, 1))
    denom = 10 * len(qs)
    out = {
        "ann_queries": len(qs),
        "srp_recall_at_10": round(srp_hits / denom, 3),
        "srp_default_recall_at_10": round(srp_def_hits / denom, 3),
        "srp_recommended": dict(
            _SRP_RECOMMENDED,
            scanned_frac=round(sum(fracs) / len(fracs), 3),
        ),
        "ivf_recall_at_10": round(ivf_hits / denom, 3),
        "exact_topk_sec": round(t_exact, 3),
        "srp_topk_sec": round(t_srp, 3),
        "srp_tables_build_sec": round(t_srp_build, 3),
        "srp_default_topk_sec": round(t_srp_def, 3),
        "ivf_topk_sec": round(t_ivf, 3),
    }
    if curve:
        curve_out = {}
        for n_tables in (1, 2, 4):
            hits, t = 0, 0.0
            for qid, qv in qs:
                t0 = time.perf_counter()
                got = srp_tabled(qv, n_tables)
                t += time.perf_counter() - t0
                hits += len(got & exact_by_q[qid])
            curve_out[f"tables_{n_tables}"] = {
                "recall_at_10": round(hits / denom, 3),
                "topk_sec": round(t, 3),
            }
        curve_out[f"tables_{_SRP_RECOMMENDED['tables']}"] = {
            "recall_at_10": out["srp_recall_at_10"],
            "topk_sec": out["srp_topk_sec"],
        }
        out["srp_recall_curve"] = curve_out
    tabled.unpersist()
    return out


def probe_quant(spark, embs, n_queries: int = 20, curve: bool = False) -> dict:
    """Compressed-vector probe (round 9, refine program per VERDICT
    r14 #5): the headline pq_recall_at_10 is the RECOMMENDED shape —
    residual codes (m=8, nbits=4) + exact rerank of the ADC top-100
    (O(100) full-vector reads per query at any corpus size); the raw
    no-refine ADC recall stays recorded for continuity. SQ8/BQ top-10
    overlap vs exact brute force as before, all in the production
    shape — quantizers fit ONCE per corpus, codes materialized once,
    every query scans only the code column. The ratio rows prove the
    per-query scan cost stays linear while the scanned bytes shrink
    (4x for SQ8, ~32x for PQ codes). curve=True sweeps the refine
    depth (pq_refine_curve — the recall-vs-cost curve users tune
    m/nbits/refine against, the PQ twin of srp_recall_curve)."""
    from chapterhousedb_spark.operators.similarity import (
        bq_encode,
        bq_scores,
        cosine_topk,
        ivf_fit,
        ivf_probe_cells,
        pq_adc_scores,
        pq_adc_scores_residual,
        pq_encode,
        pq_fit,
        residual_frame,
        sq8_bounds,
        sq8_quantize,
        sq8_scores,
    )

    qs = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in embs.orderBy("vec_id").limit(n_queries).collect()
    ]
    t0 = time.perf_counter()
    books = pq_fit(embs, "embedding", m=8, nbits=4, seed=7, max_iter=5)
    coded_pq = pq_encode(embs, books).select("vec_id", "pq_code").cache()
    coded_pq.count()
    t_pq_build = time.perf_counter() - t0
    # residual twin at the same bit budget (full-probe so recall
    # isolates quantization, not cell pruning)
    t0 = time.perf_counter()
    cents = ivf_fit(embs, "embedding", n_cells=16, seed=7, max_iter=5)
    res = residual_frame(embs, cents)
    books_res = pq_fit(
        res, "pq_resid", m=8, nbits=4, seed=7, max_iter=5,
        normalize=False, max_abs=2.0,
    )
    coded_res = (
        pq_encode(res, books_res, "pq_resid", normalize=False)
        .select("vec_id", "ivf_cell", "pq_code")
        .cache()
    )
    coded_res.count()
    t_res_build = time.perf_counter() - t0
    all_cells = list(range(len(cents)))
    t0 = time.perf_counter()
    coded_bq = bq_encode(embs).select("vec_id", "bq_code").cache()
    coded_bq.count()
    t_bq_build = time.perf_counter() - t0
    t0 = time.perf_counter()
    mins, maxs = sq8_bounds(embs)
    coded_sq = sq8_quantize(embs, mins, maxs).select("vec_id", "qvec").cache()
    coded_sq.count()
    t_sq_build = time.perf_counter() - t0
    pq_hits = sq_hits = res_hits = bq_hits = 0
    t_pq = t_sq = t_res = t_bq = 0.0
    # refine rerank (VERDICT r14 #5 — the recommended production
    # shape): ADC top-R candidate ids broadcast-join back to the
    # corpus, exact cosine reranks R rows — O(R) full-vector reads per
    # query at ANY corpus size. The headline depth scales as n/20 on
    # THIS probe because the code budget is pinned tiny (m=8 x nbits=4
    # = 32 bits) while the corpus grows, so ADC ranking quality per
    # candidate is held constant — production keeps refine k-scale by
    # scaling the bit budget (m/nbits) and cells with the corpus
    # (FAISS practice); the swept curve records what each depth buys.
    n_corpus_q = embs.count()
    refine_headline = max(100, n_corpus_q // 20)
    refine_levels = tuple(
        sorted({refine_headline} | ({20, 50, 100} if curve else set()))
    )
    ref_hits = {r: 0 for r in refine_levels}
    ref_secs = {r: 0.0 for r in refine_levels}

    def refined(scored_df, qv, r):
        top = (
            scored_df.orderBy(F.col("approx_cosine").desc(), "vec_id")
            .limit(r)
            .select("vec_id")
        )
        kept = embs.join(F.broadcast(top), "vec_id")
        return {x["vec_id"] for x in cosine_topk(kept, qv, k=10).collect()}

    try:
        for _, qv in qs:
            exact = {
                r["vec_id"] for r in cosine_topk(embs, qv, k=10).collect()
            }
            for r in refine_levels:
                t0 = time.perf_counter()
                got = refined(
                    pq_adc_scores_residual(
                        coded_res, books_res, cents, qv, all_cells
                    ),
                    qv,
                    r,
                )
                ref_secs[r] += time.perf_counter() - t0
                ref_hits[r] += len(got & exact)
            t0 = time.perf_counter()
            pq = {
                r["vec_id"]
                for r in pq_adc_scores(coded_pq, books, qv)
                .orderBy(F.col("approx_cosine").desc(), "vec_id")
                .limit(10)
                .collect()
            }
            t_pq += time.perf_counter() - t0
            t0 = time.perf_counter()
            sq = {
                r["vec_id"]
                for r in sq8_scores(coded_sq, mins, maxs, qv)
                .orderBy(F.col("approx_cosine").desc(), "vec_id")
                .limit(10)
                .collect()
            }
            t_sq += time.perf_counter() - t0
            t0 = time.perf_counter()
            pr = {
                r["vec_id"]
                for r in pq_adc_scores_residual(
                    coded_res, books_res, cents, qv, all_cells
                )
                .orderBy(F.col("approx_cosine").desc(), "vec_id")
                .limit(10)
                .collect()
            }
            t_res += time.perf_counter() - t0
            t0 = time.perf_counter()
            bq = {
                r["vec_id"]
                for r in bq_scores(coded_bq, qv)
                .orderBy(F.col("hamming").asc(), "vec_id")
                .limit(10)
                .collect()
            }
            t_bq += time.perf_counter() - t0
            pq_hits += len(pq & exact)
            sq_hits += len(sq & exact)
            res_hits += len(pr & exact)
            bq_hits += len(bq & exact)
    finally:
        coded_pq.unpersist()
        coded_sq.unpersist()
        coded_res.unpersist()
        coded_bq.unpersist()
    denom = 10 * len(qs)
    out = {
        # headline = the RECOMMENDED config (residual codes + exact
        # rerank of the ADC top-refine_headline, VERDICT r14 #5); the
        # raw no-refine ADC numbers r9-r14 reported under this key
        # stay recorded as pq_adc_norefine_recall_at_10
        "pq_recall_at_10": round(ref_hits[refine_headline] / denom, 3),
        "pq_refine_depth": refine_headline,
        "pq_refined_topk_sec": round(ref_secs[refine_headline], 3),
        "pq_adc_norefine_recall_at_10": round(pq_hits / denom, 3),
        "pq_residual_recall_at_10": round(res_hits / denom, 3),
        "sq8_recall_at_10": round(sq_hits / denom, 3),
        "bq_recall_at_10": round(bq_hits / denom, 3),
        "pq_build_sec": round(t_pq_build, 3),
        "pq_residual_build_sec": round(t_res_build, 3),
        "sq8_build_sec": round(t_sq_build, 3),
        "bq_build_sec": round(t_bq_build, 3),
        "pq_adc_topk_sec": round(t_pq, 3),
        "pq_residual_adc_topk_sec": round(t_res, 3),
        "sq8_topk_sec": round(t_sq, 3),
        "bq_topk_sec": round(t_bq, 3),
    }
    if curve:
        out["pq_refine_curve"] = {
            "refine_0": {
                "recall_at_10": round(res_hits / denom, 3),
                "topk_sec": round(t_res, 3),
            },
            **{
                f"refine_{r}": {
                    "recall_at_10": round(ref_hits[r] / denom, 3),
                    "topk_sec": round(ref_secs[r], 3),
                }
                for r in refine_levels
            },
        }
    return out


def probe_cross(spark, docs, embs) -> dict:
    """Cross-corpus ingest-gate probe (VERDICT r6 next #6): a FIXED
    200-doc batch gated against the growing corpus, measured two ways —
    the bipartite cross gate vs the equivalent union self-join
    restricted to cross pairs (what a naive per-batch recheck costs).
    The bipartite claim: the corpus pays one scan + map-side band
    hashing per batch, so cross-gate wall grows ~linearly with corpus
    size while the union self-join additionally re-pairs corpus x
    corpus every batch."""
    from chapterhousedb_spark.operators.dedup import (
        minhash_near_dup_pairs_cross,
        simhash_near_dup_pairs,
        simhash_near_dup_pairs_cross,
    )
    from chapterhousedb_spark.operators.similarity import (
        embedding_near_dup_pairs_cross,
    )

    out: dict = {}
    # batch = 200 perturbed copies of corpus docs -> guaranteed hits
    batch = (
        docs.orderBy("doc_id")
        .limit(200)
        .select(
            (F.col("doc_id") + F.lit(50_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" ingest probe tail")).alias("text"),
        )
    )
    vbatch = (
        embs.orderBy("vec_id")
        .limit(200)
        .select(
            (F.col("vec_id") + F.lit(50_000_000)).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> x + CASE WHEN i = 0 "
                "THEN CAST(0.002 AS FLOAT) ELSE CAST(0 AS FLOAT) END)"
            ).alias("embedding"),
        )
    )
    union_docs = docs.unionByName(batch)

    n, t = timed_count(minhash_near_dup_pairs_cross(batch, docs, threshold=0.7))
    out["minhash_cross_pairs"], out["minhash_cross_sec"] = n, t
    n, t = timed_count(
        minhash_near_dup_pairs(union_docs, threshold=0.7, persist=False)
        .filter(
            (F.col("id_a") >= 50_000_000) != (F.col("id_b") >= 50_000_000)
        )
    )
    out["minhash_union_pairs"], out["minhash_union_sec"] = n, t

    n, t = timed_count(simhash_near_dup_pairs_cross(batch, docs, max_hamming=3))
    out["simhash_cross_pairs"], out["simhash_cross_sec"] = n, t
    n, t = timed_count(
        simhash_near_dup_pairs(union_docs, max_hamming=3, persist=False).filter(
            (F.col("id_a") >= 50_000_000) != (F.col("id_b") >= 50_000_000)
        )
    )
    release_self_join_caches()
    out["simhash_union_pairs"], out["simhash_union_sec"] = n, t

    n, t = timed_count(
        embedding_near_dup_pairs_cross(vbatch, embs, threshold=0.95)
    )
    out["embedding_cross_pairs"], out["embedding_cross_sec"] = n, t
    n, t = timed_count(
        embedding_near_dup_pairs(
            embs.unionByName(vbatch), threshold=0.95, persist=False
        ).filter(
            (F.col("id_a") >= 50_000_000) != (F.col("id_b") >= 50_000_000)
        )
    )
    release_self_join_caches()
    out["embedding_union_pairs"], out["embedding_union_sec"] = n, t
    return out


def probe_media(spark, docs, tmp_root: str) -> dict:
    """Round-13/14 families over the 10x step (VERDICT r13 #7):
    perceptual image/audio/video near-dup (fixed twin structure — one
    planted twin per base, so pairs must scale ~linearly with bases),
    WordPiece segmentation (one output row per doc), and the
    fingerprint-SIDECAR ingest gate vs the per-batch re-decode it
    replaces (fixed 200-image batch against the growing media corpus:
    the decode path re-fingerprints the corpus every call, the sidecar
    path reads a 16-byte/image parquet — its wall must stay ~flat-ish
    per batch while the decode path grows with the corpus)."""
    from chapterhousedb_spark.operators.multimodal import (
        audio_near_dup_pairs,
        media_near_dup_pairs,
        media_near_dup_pairs_cross,
        media_phash,
        video_near_dup_pairs,
    )
    from chapterhousedb_spark.operators.text import wordpiece_segment
    from chapterhousedb_spark.workload.llm import _WP_FIXED_VOCAB

    out: dict = {}
    bases = docs.select((F.col("doc_id")).alias("base"))

    def _images(batches):
        import numpy as np
        import pandas as pd

        from chapterhousedb_spark.operators.multimodal import (
            encode_bmp_rgb,
            encode_png_rgb,
        )

        for pdf in batches:
            ids, payloads = [], []
            for b in pdf["base"]:
                b = int(b)
                g = np.random.default_rng(b).integers(
                    0, 256, (8, 8), dtype=np.uint8
                )
                rgb1 = np.repeat(g[:, :, None], 3, axis=2).tobytes()
                up = np.repeat(np.repeat(g, 2, 0), 2, 1)
                rgb2 = np.repeat(up[:, :, None], 3, axis=2).tobytes()
                ids += [2 * b, 2 * b + 1]
                payloads += [
                    encode_png_rgb(rgb1, 8, 8),
                    encode_bmp_rgb(rgb2, 16, 16),
                ]
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = bases.mapInPandas(_images, "media_id long, payload binary")
    n, t = timed_count(media_near_dup_pairs(media, max_hamming=3))
    release_self_join_caches()
    out["media_pairs"], out["media_pairs_sec"] = n, t

    def _clips(batches):
        import numpy as np
        import pandas as pd

        from chapterhousedb_spark.operators.multimodal import make_wav_blob

        for pdf in batches:
            ids, payloads = [], []
            for b in pdf["base"]:
                b = int(b)
                s = np.random.default_rng(b).integers(
                    -3000, 3000, 128, dtype=np.int64
                )
                ids += [2 * b, 2 * b + 1]
                payloads += [
                    make_wav_blob(list(map(int, s))),
                    make_wav_blob(list(map(int, np.repeat(s, 2)))),
                ]
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    audio = bases.mapInPandas(_clips, "media_id long, payload binary")
    n, t = timed_count(audio_near_dup_pairs(audio, max_hamming=3))
    release_self_join_caches()
    out["audio_pairs"], out["audio_pairs_sec"] = n, t

    def _videos(batches):
        import numpy as np
        import pandas as pd

        from chapterhousedb_spark.operators.multimodal import (
            encode_gif_gray,
            encode_y4m_gray,
        )

        for pdf in batches:
            ids, payloads = [], []
            for b in pdf["base"]:
                b = int(b)
                frames = [
                    np.random.default_rng(b * 7 + f)
                    .integers(0, 256, 256, dtype=np.uint8)
                    .tobytes()
                    for f in range(4)
                ]
                ids += [2 * b, 2 * b + 1]
                payloads += [
                    encode_gif_gray(frames, 16, 16),
                    # cross-container frame-sampled twin
                    encode_y4m_gray(frames[::2], 16, 16),
                ]
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    video = bases.mapInPandas(_videos, "media_id long, payload binary")
    n, t = timed_count(
        video_near_dup_pairs(video, min_containment=0.99, max_df=50)
    )
    release_self_join_caches()
    out["video_pairs"], out["video_pairs_sec"] = n, t

    n, t = timed_count(wordpiece_segment(docs, _WP_FIXED_VOCAB))
    out["wordpiece_rows"], out["wordpiece_rows_sec"] = n, t

    # sidecar-vs-decode ingest gate: fixed 200-image batch (twins of
    # the 100 smallest bases) against the media corpus
    batch = (
        bases.orderBy("base")
        .limit(100)
        .mapInPandas(_images, "media_id long, payload binary")
        .select((F.col("media_id") + F.lit(90_000_000)).alias("media_id"), "payload")
    )
    n, t = timed_count(
        media_near_dup_pairs_cross(batch, media, max_hamming=3)
    )
    out["media_cross_decode_pairs"], out["media_cross_decode_sec"] = n, t
    fp_path = os.path.join(tmp_root, f"fp_{docs.count()}")
    t0 = time.perf_counter()
    media_phash(media).write.mode("overwrite").parquet(fp_path)
    out["media_sidecar_write_sec"] = round(time.perf_counter() - t0, 3)
    corpus_fp = spark.read.parquet(fp_path)
    n, t = timed_count(
        media_near_dup_pairs_cross(
            batch, None, max_hamming=3, corpus_fingerprints=corpus_fp
        )
    )
    out["media_cross_sidecar_pairs"], out["media_cross_sidecar_sec"] = n, t
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = build_session(app_name="scale-probe")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n_docs = docs.count()
    n_vecs = embs.count()
    docs_s = blow_up_docs(docs.filter(F.col("doc_id") < n_docs // 10))
    embs_s = blow_up_embs(embs.filter(F.col("vec_id") < n_vecs // 10))
    docs_l, embs_l = blow_up_docs(docs), blow_up_embs(embs)
    small = probe(spark, docs_s, embs_s)
    large = probe(spark, docs_l, embs_l)
    small.update(probe_cross(spark, docs_s, embs_s))
    large.update(probe_cross(spark, docs_l, embs_l))
    # the recall-vs-cost curves (table-count / refine-depth sweeps)
    # run at the small scale only; the large pass keeps the headline
    # configs so the ratio rows still prove linear per-query scan cost
    small.update(probe_recall(spark, embs_s, curve=True))
    large.update(probe_recall(spark, embs_l))
    small.update(probe_quant(spark, embs_s, curve=True))
    large.update(probe_quant(spark, embs_l))
    import tempfile

    tmp_root = tempfile.mkdtemp(prefix="chdb_scale_probe_")
    # media probes use the RAW docs (the blown-up text copies carry no
    # payloads); small = 10% of bases, the same 10x step
    small.update(
        probe_media(spark, docs.filter(F.col("doc_id") < n_docs // 10), tmp_root)
    )
    large.update(probe_media(spark, docs, tmp_root))
    ratios = {
        k: (round(large[k] / small[k], 2) if small[k] else None)
        for k in small
        # curve/config blocks are small-only or non-numeric — no ratio
        if k in large and isinstance(small[k], (int, float))
    }
    print(json.dumps({"small": small, "large": large, "ratio": ratios}))


if __name__ == "__main__":
    main()
