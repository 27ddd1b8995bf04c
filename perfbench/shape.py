#!/usr/bin/env python3
"""Distribution figures of a table directory, the ones gen.py is fitted to.

    python3 perfbench/shape.py <dir-with-parquet-tables>

Prints one line per figure. The figures do not depend on the row count,
so a generated set of any size can be set next to sf0.1's (`SF01`).
"""
import json
import os
import sys

import duckdb

# Measured on the engine's sf0.1 tables (100k events, 600k lineitem rows,
# 5k documents, 2k embeddings).
SF01 = {
    "events.rows_per_user": 66.67,
    "events.days": 30.0,
    "events.event_type_share_min": 0.1981,
    "events.event_type_share_max": 0.2030,
    "events.value_mean": 49.87,
    "events.value_median": 34.77,
    "events.props_distinct": 100.0,
    "lineitem.rows_per_orderkey": 4.0,
    "lineitem.rows_per_part": 30.0,
    "lineitem.rows_per_supp": 600.0,
    "lineitem.linenumber_distinct": 7.0,
    "lineitem.quantity_mean": 25.50,
    "lineitem.extendedprice_mean": 52952.0,
    "lineitem.discount_mean": 0.0500,
    "lineitem.tax_mean": 0.0400,
    "lineitem.ship_days": 2499.0,
    "documents.words_mean": 54.14,
    "documents.words_min": 10.0,
    "documents.words_max": 100.0,
    "documents.vocabulary": 31.0,
    "documents.dup_share": 0.0500,
    "documents.lang_en_share": 0.4118,
    "documents.sources": 20.0,
    "embeddings.dim": 64.0,
    "embeddings.norm_mean": 1.0,
    "embeddings.labels": 10.0,
    "embeddings.label_centroid_norm": 0.0707,
}


def centroid_norm(con, path):
    """Mean norm of the per-label mean vectors, scaled to 200 vectors a
    label: ~1/sqrt(200) = 0.0707 when labels carry no signal."""
    per_label = con.execute(f"""
        WITH x AS (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
                   FROM '{path}'),
             c AS (SELECT label, i, avg(v) AS m, count(*) AS k FROM x GROUP BY 1, 2)
        SELECT sqrt(sum(m * m)), any_value(k) FROM c GROUP BY label""").fetchall()
    return sum(norm * (k / 200) ** 0.5 for norm, k in per_label) / len(per_label)


def shape(d):
    con = duckdb.connect()
    con.execute("SET threads TO 4")

    def one(sql):
        return float(con.execute(sql).fetchone()[0])

    out = {}
    p = os.path.join(d, "events.parquet")
    if os.path.exists(p):
        t = f"'{p}'"
        n = one(f"SELECT count(*) FROM {t}")
        shares = con.execute(
            f"SELECT min(c) / {n}, max(c) / {n} FROM (SELECT count(*) c FROM {t} GROUP BY event_type)").fetchone()
        out.update({
            "events.rows_per_user": one(f"SELECT count(*) / count(DISTINCT user_id) FROM {t}"),
            "events.days": one(f"SELECT count(DISTINCT date_trunc('day', ts)) FROM {t}"),
            "events.event_type_share_min": shares[0],
            "events.event_type_share_max": shares[1],
            "events.value_mean": one(f"SELECT avg(value) FROM {t}"),
            "events.value_median": one(f"SELECT median(value) FROM {t}"),
            "events.props_distinct": one(f"SELECT count(DISTINCT props) FROM {t}"),
        })
    p = os.path.join(d, "lineitem.parquet")
    if os.path.exists(p):
        t = f"'{p}'"
        # key domains from the largest key: sparse samples leave keys unused
        out.update({
            "lineitem.rows_per_orderkey": one(f"SELECT count(*) / (max(l_orderkey) + 1) FROM {t}"),
            "lineitem.rows_per_part": one(f"SELECT count(*) / (max(l_partkey) + 1) FROM {t}"),
            "lineitem.rows_per_supp": one(f"SELECT count(*) / (max(l_suppkey) + 1) FROM {t}"),
            "lineitem.linenumber_distinct": one(f"SELECT count(DISTINCT l_linenumber) FROM {t}"),
            "lineitem.quantity_mean": one(f"SELECT avg(l_quantity) FROM {t}"),
            "lineitem.extendedprice_mean": one(f"SELECT avg(l_extendedprice) FROM {t}"),
            "lineitem.discount_mean": one(f"SELECT avg(l_discount) FROM {t}"),
            "lineitem.tax_mean": one(f"SELECT avg(l_tax) FROM {t}"),
            "lineitem.ship_days": one(f"SELECT count(DISTINCT l_shipdate) FROM {t}"),
        })
    p = os.path.join(d, "documents.parquet")
    if os.path.exists(p):
        t = f"'{p}'"
        con.execute(f"CREATE TEMP VIEW w AS SELECT len(string_split(text, ' ')) AS k FROM {t}")
        out.update({
            "documents.words_mean": one("SELECT avg(k) FROM w"),
            "documents.words_min": one("SELECT min(k) FROM w"),
            "documents.words_max": one("SELECT max(k) FROM w"),
            "documents.vocabulary": one(
                f"SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM {t})"),
            "documents.dup_share": one(f"SELECT avg(CASE WHEN text LIKE '% dup' THEN 1 ELSE 0 END) FROM {t}"),
            "documents.lang_en_share": one(f"SELECT avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) FROM {t}"),
            "documents.sources": one(f"SELECT count(DISTINCT source) FROM {t}"),
        })
    p = os.path.join(d, "embeddings.parquet")
    if os.path.exists(p):
        t = f"'{p}'"
        out.update({
            "embeddings.dim": one(f"SELECT max(len(embedding)) FROM {t}"),
            "embeddings.norm_mean": one(
                f"SELECT avg(sqrt(list_sum(list_transform(embedding, x -> x * x)))) FROM {t}"),
            "embeddings.labels": one(f"SELECT count(DISTINCT label) FROM {t}"),
            "embeddings.label_centroid_norm": centroid_norm(con, p),
        })
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    for k, v in shape(sys.argv[1]).items():
        print(json.dumps({"figure": k, "value": round(v, 4), "sf0.1": SF01.get(k)}))
