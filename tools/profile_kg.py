"""Per-phase wall profile of the flagship kg_pipeline — finds what does
NOT scale. Usage: python tools/profile_kg.py [cores] [scale]"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 9600
    os.environ["KGPIPE_BENCH_SCALE"] = str(scale)
    os.environ.setdefault("KGPIPE_DRIVER_MEM", "48g")

    import bench
    from kgpipe import canon
    from kgpipe import link as L
    from kgpipe import triples as T
    from kgpipe.pipeline import build_graph, triples_view, _rewrite_canonical
    from kgpipe.session import get_spark

    spark = get_spark(app_name="kg-profile", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")

    cdf, sdf = bench._cached_corpus(spark)
    cdf = cdf.repartition(max(cores, 32)).persist()
    cdf.count()

    # warmup (codegen/JIT/python workers)
    bench._force(build_graph(spark, cdf, sdf).triples)

    marks = []

    def mark(label, t0):
        dt = round(time.time() - t0, 2)
        marks.append((label, dt))
        print(f"  {label}: {dt}s", flush=True)
        return time.time()

    # instrument an UNFUSED mirror of the flagship: same parse UDFs,
    # linkage, edge families and final distinct as pipeline.build_graph
    # (round 7: pruned term UDFs + the single-evaluation Generate
    # barrier), but with an EAGER edge checkpoint between edge-build and
    # triples so the phases are separately timeable. The real flagship
    # fused past that barrier in round 6 (pipeline.py triples path), so
    # the "edges dedup+checkpoint" mark here is a phase the production
    # path no longer pays — read the split for WHERE time goes, not as
    # the flagship's wall clock.
    g2_start = time.time()

    from pyspark.sql import functions as F  # noqa: F811

    from kgpipe.pipeline import (
        PIPELINE_HANZI_SECTIONS,
        parse_chengyu_pruned_udf,
        parse_ciyu_pruned_udf,
        parse_hanzi_pruned_udf,
        _family,
        _term_frame,
    )

    def parsed_once(fam_df, udf):
        return fam_df.select(
            "path", F.explode(F.array(udf("content", "path"))).alias("parsed")
        )

    chengyu_parsed = parsed_once(_family(cdf, "chengyu"), parse_chengyu_pruned_udf)
    cidian_parsed = parsed_once(_family(cdf, "cidian"), parse_ciyu_pruned_udf)
    zidian_parsed = _family(cdf, "zidian").select(
        "path", parse_hanzi_pruned_udf("content", "path").alias("parsed")
    ).persist()

    seeds = sdf.where(F.col("name").isNotNull())
    idiom_seeds = seeds.where(F.col("entity_type") == "Idiom").select("name")
    word_seeds = seeds.where(F.col("entity_type") == "Word").select("name")
    idiom_linked = L.link_seeds_to_pages(
        idiom_seeds, chengyu_parsed, "parsed.data.chengyu"
    )
    word_linked = L.link_seeds_to_pages(
        word_seeds, cidian_parsed, "parsed.data.word"
    )
    terms = _term_frame(idiom_linked, "Idiom", "chengyu").unionByName(
        _term_frame(word_linked, "Word", "word")
    )
    hz = zidian_parsed.select("path", "parsed.*")
    hz_valid = hz.where(
        F.col("error").isNull() & F.col("basic_info.data.character").isNotNull()
    ).select("path", "unicode_decimal", *PIPELINE_HANZI_SECTIONS)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_terms = pool.submit(lambda: terms.localCheckpoint(eager=True))
        f_hz = pool.submit(lambda: hz_valid.localCheckpoint(eager=True))
        terms, hz_valid = f_terms.result(), f_hz.result()
    t0 = mark("parse+link+barriers", g2_start)

    mentions = L.extract_mentions(
        terms, "name", "synonyms", "antonyms", carry_cols=("entity_type",)
    )
    syn_ant = T.undirected_by_name(mentions, F.col("entity_type"))
    hanzi_dim = hz_valid.select(F.col("basic_info.data.character").alias("name"))
    composed = T.composed_of(terms, hanzi_dim, mode="broadcast")
    radicals = hz_valid.select(
        F.regexp_replace(F.col("basic_info.data.bushou_detail.text"), "部$", "").alias("radical"),
        F.col("basic_info.data.character").alias("hanzi"),
        F.col("path").alias("lineage"),
    ).where(F.col("radical").isNotNull() & (F.length("radical") > 0))
    radical_edges = T.directed(radicals, "Radical", "radical", "Hanzi", "hanzi", "radical-of")
    variants = hz_valid.select(
        F.col("basic_info.data.character").alias("src_name"),
        F.explode(F.col("basic_info.data.variant_characters")).alias("v"),
        F.col("path").alias("lineage"),
    ).select(
        "src_name", F.col("v.character").alias("mention"),
        F.lit("variant-of").alias("rel_type"), "lineage",
    )
    variant_edges = T.undirected_by_name(variants, "Hanzi")
    hz_pinyin = hz_valid.select(
        F.col("basic_info.data.character").alias("src_name"),
        F.explode(F.col("basic_info.data.pinyin_info")).alias("p"),
        F.col("path").alias("lineage"),
    ).select("src_name", F.col("p.pinyin").alias("py"), "lineage").where(F.length("py") > 0)
    hz_pinyin_edges = T.directed(hz_pinyin, "Hanzi", "src_name", "Pinyin", "py", "has-pinyin")
    term_pinyin = terms.select(
        "entity_type", F.col("name").alias("src_name"), F.col("pinyin").alias("py"),
        F.col("path").alias("lineage"),
    ).where(F.col("py").isNotNull() & (F.length("py") > 0))
    term_pinyin_edges = T.directed(
        term_pinyin, F.col("entity_type"), "src_name", "Pinyin", "py", "has-pinyin"
    )
    hz_trans = hz_valid.select(
        F.col("basic_info.data.character").alias("src_name"),
        F.explode(F.col("fanyi_info.data.translations")).alias("t"),
        F.col("path").alias("lineage"),
    ).select(
        "src_name",
        F.concat_ws(": ", F.col("t.language"), F.col("t.translation")).alias("trans"),
        "lineage",
    )
    idiom_trans = terms.where(
        (F.col("entity_type") == "Idiom") & F.col("translation").isNotNull()
    ).select(
        F.col("name").alias("src_name"),
        F.explode(F.split(F.col("translation"), "; ")).alias("trans"),
        F.col("path").alias("lineage"),
    ).where(F.length("trans") > 0)
    trans_edges = T.directed(
        hz_trans, "Hanzi", "src_name", "Translation", "trans", "translation-of"
    ).unionByName(
        T.directed(idiom_trans, "Idiom", "src_name", "Translation", "trans", "translation-of")
    )
    raw_edges = (
        syn_ant.unionByName(composed)
        .unionByName(radical_edges)
        .unionByName(variant_edges)
        .unionByName(hz_pinyin_edges)
        .unionByName(term_pinyin_edges)
        .unionByName(trans_edges)
    )
    edges = T.dedup_edges(raw_edges).withColumn("run_id", F.lit("run-1")).drop("lineage")
    edges = edges.localCheckpoint(eager=True)
    t0 = mark("edges dedup+checkpoint", t0)

    variant_only = edges.where(F.col("rel_type") == "variant-of")
    slim = variant_only.select("src_id", "dst_id")
    rows = slim.limit(canon.DRIVER_CC_MAX_EDGES + 1).collect()
    t0 = mark(f"variant collect ({len(rows)} rows)", t0)

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        ra, rb = find(r.src_id), find(r.dst_id)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    comp_rows = [(node, find(node)) for node in parent]
    t0 = mark(f"driver union-find ({len(comp_rows)} nodes)", t0)

    comp = spark.createDataFrame(comp_rows, "node_id long, component_id long")
    nodes_lookup = (
        variant_only.select(F.col("src_id").alias("node_id"), F.col("src_name").alias("name"))
        .unionByName(
            variant_only.select(F.col("dst_id").alias("node_id"), F.col("dst_name").alias("name"))
        )
        .distinct()
    )
    mapping = canon._elect_winners(comp, nodes_lookup)
    t0 = mark("createDataFrame+elect_winners", t0)

    from kgpipe.canon import apply_canonicalization

    rewritten = apply_canonicalization(edges, mapping)
    triples = triples_view(rewritten)
    n = bench._force(triples)
    t0 = mark(f"rewrite+triples distinct+force ({n} triples)", t0)

    total = round(sum(dt for _, dt in marks), 2)
    print(f"TOTAL: {total}s  cores={cores} scale={scale}")
    spark.stop()


if __name__ == "__main__":
    main()
