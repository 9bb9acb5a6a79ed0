"""Seeded input generators, one per workload.

Each generator takes a seed and a size, writes its inputs under an
output directory and returns a description of what it wrote: rows,
bytes and the stated shares (duplicates, contamination, overlap
density). The same seed and size always give the same files; a new
seed gives different files with the same stated properties.
"""
import hashlib
import json
import os
import shutil
import sys

import duckdb
import numpy as np
import pandas as pd

# ---------------------------------------------------------------- tlq_sales

# TPC-H nations and their regions: the geography SalesTransform.sales emits.
NATIONS = [
    ("ALGERIA", "AFRICA"), ("ARGENTINA", "AMERICA"), ("BRAZIL", "AMERICA"),
    ("CANADA", "AMERICA"), ("EGYPT", "MIDDLE EAST"), ("ETHIOPIA", "AFRICA"),
    ("FRANCE", "EUROPE"), ("GERMANY", "EUROPE"), ("INDIA", "ASIA"),
    ("INDONESIA", "ASIA"), ("IRAN", "MIDDLE EAST"), ("IRAQ", "MIDDLE EAST"),
    ("JAPAN", "ASIA"), ("JORDAN", "MIDDLE EAST"), ("KENYA", "AFRICA"),
    ("MOROCCO", "AFRICA"), ("MOZAMBIQUE", "AFRICA"), ("PERU", "AMERICA"),
    ("CHINA", "ASIA"), ("ROMANIA", "EUROPE"), ("SAUDI ARABIA", "MIDDLE EAST"),
    ("VIETNAM", "ASIA"), ("RUSSIA", "EUROPE"), ("UNITED KINGDOM", "EUROPE"),
    ("UNITED STATES", "AMERICA")]
REGIONS = sorted({r for _, r in NATIONS})
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
UNKNOWN_PRIORITIES = ["6-DEFERRED", "X"]
RECODED = ["Critical", "High", "Medium", "Low", "NULL"]

SALES_COLUMNS = [
    ("order_id", "BIGINT"), ("line_number", "INTEGER"), ("region", "VARCHAR"),
    ("country", "VARCHAR"), ("order_priority", "VARCHAR"),
    ("order_date", "DATE"), ("ship_date", "DATE"), ("revenue_c", "BIGINT"),
    ("cost_c", "BIGINT"), ("units_c", "BIGINT")]

TLQ_SHARES = {
    "tied_line_share": 0.02,       # extra rows repeating a line_number
    "unknown_priority_share": 0.03,
    "empty_ship_date_share": 0.02,
}


def gen_tlq_sales(seed, orders, out):
    """Sales rows in SalesTransform.sales' shape, shuffled out of order.

    Each order has 1-7 lines (a first-wins dedup on order_id keeps one);
    a share of rows repeat a line number so the dedup's tie-break
    decides, a share carry an unknown priority code, and a share have
    an empty ship date ("INVALID DATE" downstream).
    """
    rng = np.random.default_rng([seed, 101])
    n_lines = rng.integers(1, 8, orders)
    order_ids = np.arange(orders, dtype=np.int64) * 4 + 1 + rng.integers(0, 4, orders)
    oid = np.repeat(order_ids, n_lines)
    line = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32)
    n = len(oid)
    tied = rng.random(n) < TLQ_SHARES["tied_line_share"]
    oid = np.concatenate([oid, oid[tied]])
    line = np.concatenate([line, line[tied]])
    order_of_row = np.searchsorted(order_ids, oid)
    n = len(oid)

    nation = rng.integers(0, len(NATIONS), orders)[order_of_row]
    prio = np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, orders)][order_of_row]
    unknown = rng.random(n) < TLQ_SHARES["unknown_priority_share"]
    prio[unknown] = np.array(UNKNOWN_PRIORITIES, dtype=object)[
        rng.integers(0, len(UNKNOWN_PRIORITIES), unknown.sum())]
    order_day = rng.integers(0, 2405, orders)[order_of_row]
    ship_day = order_day + rng.integers(1, 122, n)
    epoch = np.datetime64("1992-01-01")
    revenue = rng.integers(90_000, 10_500_000, n)
    discount = rng.integers(0, 11, n)
    df = pd.DataFrame({
        "order_id": oid,
        "line_number": line,
        "region": [NATIONS[i][1] for i in nation],
        "country": [NATIONS[i][0] for i in nation],
        "order_priority": prio,
        "order_date": epoch + order_day.astype("timedelta64[D]"),
        "ship_date": epoch + ship_day.astype("timedelta64[D]"),
        "revenue_c": revenue,
        "cost_c": revenue * (100 - discount) // 100,
        "units_c": rng.integers(1, 51, n) * 100,
    })
    df.loc[rng.random(n) < TLQ_SHARES["empty_ship_date_share"], "ship_date"] = pd.NaT
    df = df.iloc[rng.permutation(n)].reset_index(drop=True)
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "sales.csv")
    con = duckdb.connect()
    con.register("sales_df", df)
    con.execute("COPY (SELECT * REPLACE (CAST(order_date AS DATE) AS order_date, "
                "CAST(ship_date AS DATE) AS ship_date) FROM sales_df) "
                f"TO '{path}' (HEADER, DELIMITER ',')")
    con.close()
    queries = tlq_queries(seed)
    with open(os.path.join(out, "queries.json"), "w") as f:
        json.dump(queries, f)
    return {
        "rows": int(n), "orders": int(orders), "bytes": os.path.getsize(path),
        # rows the first-wins dedup drops: later lines of an order, ties
        "duplicate_order_id_share": round(1 - orders / n, 4),
        "tied_line_share": TLQ_SHARES["tied_line_share"],
        "unknown_priority_share": TLQ_SHARES["unknown_priority_share"],
        "empty_ship_date_share": TLQ_SHARES["empty_ship_date_share"],
        "distinct_queries": len(queries),
    }


def tlq_queries(seed, n=30):
    """A seeded mix of the reference's Query variants over SalesData.

    Valid in both Spark SQL and DuckDB: priority filter, region plus
    order-date range, and region/country rollups.
    """
    rng = np.random.default_rng([seed, 202])
    out = []
    for i in range(n):
        kind = i % 3
        if kind == 0:
            picks = sorted(rng.choice(RECODED, size=2, replace=False))
            sql = ("SELECT order_priority, count(*) AS n_orders, "
                   "sum(revenue_c) AS sum_revenue_c, sum(units_c) AS sum_units_c "
                   "FROM SalesData WHERE order_priority IN "
                   f"('{picks[0]}', '{picks[1]}') GROUP BY order_priority")
        elif kind == 1:
            region = REGIONS[rng.integers(0, len(REGIONS))]
            y0 = int(rng.integers(1992, 1998))
            y1 = y0 + int(rng.integers(0, 3))
            sql = ("SELECT country, count(*) AS n_orders, "
                   "sum(revenue_c) AS sum_revenue_c FROM SalesData "
                   f"WHERE region = '{region}' AND order_date BETWEEN "
                   f"DATE '{y0}-01-01' AND DATE '{y1}-12-31' GROUP BY country")
        else:
            y0 = int(rng.integers(1992, 1998))
            sql = ("SELECT region, country, count(*) AS n_orders, "
                   "sum(units_c) AS sum_units_c, "
                   "sum(revenue_c - cost_c) AS sum_margin_c FROM SalesData "
                   f"WHERE order_date >= DATE '{y0}-01-01' "
                   "GROUP BY ROLLUP (region, country)")
        out.append({"id": f"q{i:02d}", "sql": sql})
    return out


# -------------------------------------------------------------- faas_report

FUNCTIONS = ["fn_ingest", "fn_transform", "fn_query"]  # one per pipeline stage
MEMORY_SETTINGS = [512, 2048]
ITERATIONS = 2
CPU_TYPES = ["Intel Xeon E5-2666", "Intel Xeon Platinum 8175M",
             "AMD EPYC 7R32"]

# SAAF Inspector keys every record carries, then the extra subset each
# function type reports; the union is what the report engine sees.
COMMON_KEYS = [
    ("run_id", "BIGINT"), ("pipeline_id", "BIGINT"),
    ("pipeline_stage", "BIGINT"), ("memory", "BIGINT"),
    ("iteration", "BIGINT"), ("functionName", "VARCHAR"),
    ("status", "VARCHAR"), ("uuid", "VARCHAR"), ("containerID", "VARCHAR"),
    ("vmID", "VARCHAR"), ("cpuType", "VARCHAR"), ("newcontainer", "BIGINT"),
    ("startTime", "BIGINT"), ("endTime", "BIGINT"), ("runtime_ms", "BIGINT"),
    ("runtime_s", "DOUBLE"), ("platform", "VARCHAR"),
    ("functionMemory", "BIGINT"), ("cpuCores", "BIGINT"),
    ("frameworkRuntime", "BIGINT")]
EXTRA_KEYS = {
    "fn_ingest": [("cpuUsr", "BIGINT"), ("cpuKrn", "BIGINT"),
                  ("cpuIdle", "BIGINT"), ("cpuIowait", "BIGINT"),
                  ("contextSwitches", "BIGINT"), ("bytesRead", "BIGINT"),
                  ("vmuptime", "BIGINT"), ("latency", "DOUBLE"),
                  ("linuxVersion", "VARCHAR"), ("lang", "VARCHAR")],
    "fn_transform": [("cpuUsr", "BIGINT"), ("cpuNice", "BIGINT"),
                     ("cpuSoftIrq", "BIGINT"), ("cpuIrq", "BIGINT"),
                     ("pageFaultsMinor", "BIGINT"),
                     ("pageFaultsMajor", "BIGINT"), ("totalMemory", "BIGINT"),
                     ("freeMemory", "BIGINT"), ("rowsOut", "BIGINT"),
                     ("version", "VARCHAR")],
    "fn_query": [("cpuKrn", "BIGINT"), ("cpuSteal", "BIGINT"),
                 ("vmcpusteal", "BIGINT"), ("userRuntime", "DOUBLE"),
                 ("latency", "DOUBLE"), ("queryRows", "BIGINT"),
                 ("cacheHits", "BIGINT"), ("lang", "VARCHAR"),
                 ("heapUsed", "BIGINT"), ("threads", "BIGINT")],
}
FAAS_SHARES = {"error_share": 0.03, "new_container_share": 0.3,
               "new_vm_share": 0.1}
CONCURRENCY = 8  # pipelines in flight at once


def faas_schema():
    cols = dict(COMMON_KEYS)
    for keys in EXTRA_KEYS.values():
        cols.update(dict(keys))
    return cols


def gen_faas_report(seed, pipelines, out):
    """SAAF-style run records as JSON-lines files, one file per
    (memory setting, iteration, function).

    Each pipeline is one invocation of every stage in order; the
    records cover memory settings x iterations x stages. Containers are
    reused while warm (duplicate containerIDs), containers sit on a
    pool of VMs (tenancy), a share of runs end in error, and pipeline
    starts are spaced so that CONCURRENCY pipelines are in flight at
    once, with seeded jitter.
    """
    rng = np.random.default_rng([seed, 303])
    concurrency = CONCURRENCY
    recs_dir = os.path.join(out, "runs")
    os.makedirs(recs_dir, exist_ok=True)
    files = {}
    run_id = 0
    pipeline_id = 0
    n_rec = n_err = n_new = 0
    containers = {}   # (memory, fn) -> list of (containerID, vmID, cpuType)
    vms = []
    t0 = 1_700_000_000_000
    for mem in MEMORY_SETTINGS:
        for it in range(ITERATIONS):
            clock = t0 + (mem * 10 + it) * 86_400_000
            mult = 2048 // mem
            # mean pipeline length / concurrency = start spacing, so about
            # `concurrency` pipelines are in flight at any time
            spacing = len(FUNCTIONS) * 325 * mult // concurrency
            for p in range(pipelines):
                start = clock + p * spacing + int(rng.integers(0, spacing))
                for stage, fn in enumerate(FUNCTIONS):
                    pool = containers.setdefault((mem, fn), [])
                    new = (not pool) or rng.random() < FAAS_SHARES["new_container_share"]
                    if new:
                        if (not vms) or rng.random() < FAAS_SHARES["new_vm_share"]:
                            vms.append((f"vm{len(vms):04d}",
                                        CPU_TYPES[int(rng.integers(0, len(CPU_TYPES)))]))
                        vm, cpu = vms[int(rng.integers(max(0, len(vms) - 8), len(vms)))]
                        cont = (f"c{mem}-{stage}-{len(pool)}", vm, cpu)
                        pool.append(cont)
                        n_new += 1
                    else:
                        cont = pool[int(rng.integers(0, len(pool)))]
                    runtime_cs = int(rng.integers(5, 60)) * mult
                    runtime_ms = runtime_cs * 10
                    status = "error" if rng.random() < FAAS_SHARES["error_share"] else "ok"
                    n_err += status == "error"
                    rec = {
                        "run_id": run_id, "pipeline_id": pipeline_id,
                        "pipeline_stage": stage, "memory": mem, "iteration": it,
                        "functionName": fn, "status": status,
                        "uuid": f"u{seed}-{run_id}", "containerID": cont[0],
                        "vmID": cont[1], "cpuType": cont[2],
                        "newcontainer": int(new), "startTime": start,
                        "endTime": start + runtime_ms, "runtime_ms": runtime_ms,
                        "runtime_s": runtime_cs / 100.0, "platform": "AWS Lambda",
                        "functionMemory": mem, "cpuCores": 2,
                        "frameworkRuntime": int(rng.integers(1, 30)),
                    }
                    for key, typ in EXTRA_KEYS[fn]:
                        if typ == "BIGINT":
                            rec[key] = int(rng.integers(0, 100_000))
                        elif typ == "DOUBLE":
                            rec[key] = int(rng.integers(0, 100_000)) / 100.0
                        else:
                            rec[key] = f"{key}-{int(rng.integers(0, 4))}"
                    files.setdefault(f"{mem}-{it}-{fn}", []).append(rec)
                    start += runtime_ms
                    run_id += 1
                    n_rec += 1
                pipeline_id += 1
    total_bytes = 0
    for name, recs in sorted(files.items()):
        path = os.path.join(recs_dir, f"{name}.json")
        with open(path, "w") as f:
            for r in recs:
                f.write(json.dumps(r) + "\n")
        total_bytes += os.path.getsize(path)
    return {
        "rows": n_rec, "bytes": total_bytes, "files": len(files),
        "pipelines": pipeline_id, "concurrency": concurrency,
        "containers": n_new, "vms": len(vms),
        "duplicate_container_share": round(1 - n_new / n_rec, 4),
        "error_share": round(n_err / n_rec, 4),
        "keys": len(faas_schema()),
    }


# ----------------------------------------------------------- curation_chain

CURATION_SHARES = {
    "near_duplicate_share": 0.15,  # docs that are edited copies of another
    "eval_overlap_share": 0.04,    # docs carrying a span of a 1-in-53 eval doc
    "repetitive_share": 0.05,      # docs dominated by one repeated bigram
}
SOURCES = ["src0", "src1", "src2", "src3"]


def gen_curation_chain(seed, docs, out, vocab=3000):
    """A corpus in the `documents` schema (doc_id, text, lang, source,
    n_chars).

    Words are Zipf-distributed over a `vocab`-word vocabulary; doc
    lengths are lognormal, clipped to [3, 200] words. A share of docs
    are near-duplicates (a few words edited from a base doc), a share
    embed a long span of an eval doc (doc_id % 53 == 0), and a share
    repeat one bigram.
    """
    rng = np.random.default_rng([seed, 404])
    words = np.array([f"w{i}" for i in range(vocab)], dtype=object)
    zipf = 1.0 / np.arange(1, vocab + 1) ** 1.05
    zipf /= zipf.sum()

    def fresh(k):
        return list(words[rng.choice(vocab, size=k, p=zipf)])

    lengths = np.clip(rng.lognormal(3.6, 0.6, docs).astype(int), 3, 200)
    texts = []
    kinds = {"near_duplicate": 0, "eval_overlap": 0, "repetitive": 0}
    for d in range(docs):
        u = rng.random()
        sh = CURATION_SHARES
        if d > 0 and u < sh["near_duplicate_share"]:
            base = texts[int(rng.integers(max(0, d - 200), d))].split(" ")
            edited = list(base)
            for _ in range(max(1, len(edited) // 25)):
                edited[int(rng.integers(0, len(edited)))] = words[int(rng.integers(0, vocab))]
            texts.append(" ".join(edited))
            kinds["near_duplicate"] += 1
        elif d > 53 and d % 53 != 0 and u < sh["near_duplicate_share"] + sh["eval_overlap_share"]:
            ev = texts[53 * int(rng.integers(0, d // 53))].split(" ")
            w = fresh(int(lengths[d]) // 3) + ev + fresh(int(lengths[d]) // 3)
            texts.append(" ".join(w))
            kinds["eval_overlap"] += 1
        elif u < sh["near_duplicate_share"] + sh["eval_overlap_share"] + sh["repetitive_share"]:
            a, b = fresh(2)
            w = fresh(int(lengths[d]) // 2)
            w += [a, b] * max(2, int(lengths[d]) // 4)
            texts.append(" ".join(w))
            kinds["repetitive"] += 1
        else:
            texts.append(" ".join(fresh(int(lengths[d]))))
    df = pd.DataFrame({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * docs,
        "source": [SOURCES[i] for i in rng.integers(0, 4, docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "documents.parquet")
    con = duckdb.connect()
    con.register("docs_df", df)
    con.execute(f"COPY (SELECT * FROM docs_df ORDER BY doc_id) TO '{path}' (FORMAT PARQUET)")
    con.close()
    n_tokens = sum(len(t.split(" ")) for t in texts)
    return {
        "rows": docs, "bytes": os.path.getsize(path), "vocab": vocab,
        "tokens": n_tokens, "mean_tokens": round(n_tokens / docs, 2),
        "length_distribution": "lognormal(3.6, 0.6) words, clipped to [3, 200]",
        "near_duplicate_share": round(kinds["near_duplicate"] / docs, 4),
        "eval_overlap_share": round(kinds["eval_overlap"] / docs, 4),
        "repetitive_share": round(kinds["repetitive"] / docs, 4),
        "eval_slice": "doc_id % 53 == 0",
    }


GENERATORS = {
    "tlq_sales": gen_tlq_sales,
    "faas_report": gen_faas_report,
    "curation_chain": gen_curation_chain,
}


def source_digest(*modules):
    """Short digest of the given modules' source, to key cached files."""
    h = hashlib.sha256()
    for m in modules:
        with open(m.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def generate(workload, seed, size, out):
    """Write the inputs once per (workload, seed, size, generator
    version); reuse them after."""
    stamp = os.path.join(out, "inputs.json")
    key = {"workload": workload, "seed": seed, "size": size,
           "generator": source_digest(sys.modules[__name__])}
    if os.path.exists(stamp):
        with open(stamp) as f:
            info = json.load(f)
        if all(info.get(k) == v for k, v in key.items()):
            return info
    # anything cached beside the old inputs (the oracle) goes with them
    shutil.rmtree(out, ignore_errors=True)
    info = GENERATORS[workload](seed, size, out)
    info.update(key)
    with open(stamp, "w") as f:
        json.dump(info, f)
    return info
