"""Seeded input generation for the three workloads.

Every generator takes the run's input directory, the seed and the
workload's entry of config.json, writes the inputs the program receives,
and writes `truth.json` with what the output checks compare against (the
program never reads it). Same seed, same bytes.
"""
import calendar
import datetime
import decimal
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("row the query stream fast spark line small customer group value hash batch "
         "sort data big filter dup key agg scan slow table part a merge window order "
         "column join vector").split()
PARTS_A = "blue hot small old red new cold large".split()
PARTS_B = "bolt gear anvil ring rod plate widget gizmo".split()


def query_sweep(out_dir: str, seed: int, cfg: dict, scale: float = 0.01) -> dict:
    """The ten catalogue tables (region nation customer supplier part
    orders lineitem events documents embeddings), one parquet file each,
    with the schemas and value domains of the repository's testdata
    (FIXTURES.md) at the row counts of sf0.01."""
    out_dir = os.path.join(out_dir, "sf")
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_line, n_ev, n_doc, n_emb = (int(1500000 * scale), int(6000000 * scale),
                                          int(1000000 * scale), 500, 500)
    day = np.datetime64("1995-01-01", "ms")
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                    "FURNITURE"], n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{rng.choice(PARTS_A)} {rng.choice(PARTS_B)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    odates = day + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odates.astype("datetime64[us]")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    lok = rng.integers(0, n_ord, n_line)
    lnum = np.zeros(n_line, np.int32)
    order = np.argsort(lok, kind="stable")
    sorted_keys = lok[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    run_id = np.repeat(starts, np.diff(np.r_[starts, n_line]))
    lnum[order] = (np.arange(n_line) - run_id + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": pa.array((odates[lok] + rng.integers(1, 122, n_line)
                                .astype("timedelta64[D]")).astype("datetime64[us]"))})
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(n_doc)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return {"tables": sizes, "input_bytes": sum(v["bytes"] for v in sizes.values())}


def _write(path: str, table: pa.Table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def etl_daily(out_dir: str, seed: int, cfg: dict) -> dict:
    """One WIB day of the reference's sources: XML-API CSV payloads (one
    per slice), a Zabbix-style hour-partitioned `history` source, the
    item/host/remote dimensions, and earlier days already in the
    warehouse's fact table."""
    rng = np.random.default_rng(seed)
    hosts, ifaces = cfg["hosts"], cfg["interfaces_per_host"]
    slices, per_slice, step = cfg["xml_slices"], cfg["xml_rows_per_slice"], cfg["sample_step_s"]
    day = datetime.date(2024, 1, 1) + datetime.timedelta(days=seed % 365)
    ds = day.strftime("%Y%m%d")
    # the WIB (+7 h) day `ds` covers these UTC clocks
    day_start = calendar.timegm(day.timetuple()) - 25200
    apps = [f"APP{i}" for i in range(8)]
    allowed = set(apps[:6])
    header = "aplikasi,titik,transactions,delay,throughput,waktu,appId_String"
    payloads, xml_rows, xml_tx = {}, 0, 0
    for s in range(slices):
        t0 = day_start + s * (86400 // slices)
        lines = [header]
        for _ in range(per_slice):
            app = apps[rng.integers(8)]
            tx = int(rng.integers(100000))
            if app in allowed:
                xml_rows += 1
                xml_tx += tx
            when = datetime.datetime.fromtimestamp(t0 + int(rng.integers(300)), datetime.timezone.utc)
            lines.append(f"app-{app},pt{rng.integers(20)},{tx}.0,{rng.integers(5000) / 100.0},"
                         f"{rng.integers(1000000)}.0,{when:%Y-%m-%d %H:%M:%S},{app}")
        payloads[f"req-{s}"] = "\n".join(lines)
    with open(os.path.join(out_dir, "payloads.json"), "w") as fh:
        json.dump(payloads, fh)
    # one in- and one out-counter per interface, one item per host the
    # enrichment drops
    items = [((h * 100 + k) * 2 + (d == "out"),
              "cpu load" if d == "cpu" else f"eth{k}: uplink (Link h{h}-{k})",
              "system.cpu.load" if d == "cpu" else f"net.if.{d}[eth{k}]", f"router{h}")
             for h in range(hosts) for k in range(ifaces + 1)
             for d in (("in", "out") if k < ifaces else ("cpu",))]
    _write(os.path.join(out_dir, "items.parquet"), pa.table({
        "item_id": pa.array([i[0] for i in items], pa.int64()), "name": [i[1] for i in items],
        "key_": [i[2] for i in items], "host": [i[3] for i in items]}))
    ips = [f"10.{h // 250}.{h % 250}.1" for h in range(hosts)]
    _write(os.path.join(out_dir, "hosts.parquet"), pa.table({
        "host_name": [f"router{h}" for h in range(hosts)], "ip": ips}))
    _write(os.path.join(out_dir, "remotes.parquet"), pa.table({
        "remote_ip": ips, "tipe": ["tipe"] * hosts, "kanca": [f"Kanca{h % 7}" for h in range(hosts)],
        "kanwil": [f"Kanwil{h % 3}" for h in range(hosts)], "remote": [f"Site{h}" for h in range(hosts)],
        "latitude": -6.0 - rng.integers(100, size=hosts) / 100.0,
        "longitude": 106.0 + rng.integers(100, size=hosts) / 100.0}))
    steps = 86400 // step
    ids = np.repeat(np.array([i[0] for i in items], np.int64), steps)
    clocks = np.tile(day_start + np.arange(steps, dtype=np.int64) * step, len(items))
    values = rng.integers(0, 1 << 40, len(ids), dtype=np.int64)
    counted = np.repeat(np.array([not i[2].startswith("system.") for i in items]), steps)
    dec = pa.decimal128(20, 0)

    def hist_table(clk):
        return pa.table({"itemid": pa.array(ids, pa.int64()), "clock": pa.array(clk, pa.int64()),
                         "value": pa.array([decimal.Decimal(int(v)) for v in values], dec)})
    hours = (clocks - day_start) // 3600
    full = hist_table(clocks)
    for hr in range(24):
        mask = pa.array(hours == hr)
        _write(os.path.join(out_dir, "history", f"hour={hr}", "part-0.parquet"), full.filter(mask))
    # earlier days of the fact, already landed in the warehouse
    wh = os.path.join(os.path.dirname(out_dir), "warehouse", "history")
    for d in range(1, cfg["prior_days"] + 1):
        prior = (day - datetime.timedelta(days=d)).strftime("%Y%m%d")
        _write(os.path.join(wh, f"ds={prior}", "part-0.parquet"), hist_table(clocks - d * 86400))
    payload_bytes = sum(len(p.encode()) for p in payloads.values())
    in_bytes = payload_bytes + sum(os.path.getsize(os.path.join(d, f))
                                   for d, _, fs in os.walk(out_dir) for f in fs if f.endswith(".parquet"))
    truth = {"ds": ds, "day_start": day_start, "xml_rows": xml_rows, "xml_tx": str(xml_tx),
             "history_rows": len(ids), "history_sum": str(int(values.sum())),
             "enriched_rows": hosts * ifaces * steps, "bps_sum": str(int(values[counted].sum())),
             "input_rows_per_op": slices * per_slice + len(ids), "input_bytes_per_op": in_bytes}
    info = {"ds": ds, "xml_payloads": slices, "xml_rows": slices * per_slice,
            "xml_allowlisted_rows": xml_rows, "history_rows": len(ids), "items": len(items),
            "hosts": hosts, "input_rows_per_op": truth["input_rows_per_op"],
            "input_bytes_per_op": in_bytes, "payload_bytes": payload_bytes,
            "warehouse_prior_days": cfg["prior_days"],
            "traffic": {"allowlisted_share": xml_rows / (slices * per_slice), "sample_step_s": step,
                        "enriched_rows": truth["enriched_rows"]}}
    return truth, info


def stream_ingest(out_dir: str, seed: int, cfg: dict, seconds: float) -> dict:
    """Metric-event slices, one parquet file per slice. Slice k holds the
    events of event-time window k, a share of late events of window k-1,
    and a share of re-delivered events of slice k-1; the last slice is a
    flush event far ahead that closes every window."""
    rng = np.random.default_rng(seed)
    w_s, per, interval = cfg["window_s"], cfg["rows_per_slice"], cfg["slice_interval_ms"]
    timed = max(int(np.ceil(seconds * 1000 / interval)), cfg["min_timed_slices"])
    n_slices = cfg["warm_slices"] + timed
    t0 = 1704067200 + (seed % 200) * 3600  # event time of window 0
    types = np.array(["view", "click", "purchase", "signup", "error"])
    next_id, prev, last_slice, rows, late, dups = 0, None, {}, [], 0, 0
    total = 0
    for k in range(n_slices + 1):
        if k == n_slices:
            t = pa.table({"event_id": pa.array([next_id], pa.int64()),
                          "ts": pa.array([(t0 + 86400) * 10**6], pa.timestamp("us", tz="UTC")),
                          "user_id": pa.array([0], pa.int64()), "event_type": ["view"], "value": [0.0]})
        else:
            dup = (rng.random(per) < cfg["dup_share"]) if prev is not None else np.zeros(per, bool)
            fresh = int((~dup).sum())
            is_late = (rng.random(fresh) < cfg["late_share"]) & (k > 0)
            win = k - is_late.astype(np.int64)
            ts_us = (t0 + win * w_s) * 10**6 + rng.integers(0, w_s * 10**6, fresh)
            t = pa.table({"event_id": pa.array(np.arange(next_id, next_id + fresh), pa.int64()),
                          "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
                          "user_id": pa.array(rng.integers(0, 200, fresh), pa.int64()),
                          "event_type": types[rng.integers(0, 5, fresh)],
                          "value": rng.integers(0, 50000, fresh) / 100.0})
            next_id += fresh
            late += int(is_late.sum())
            if dup.any():
                again = prev.take(pa.array(rng.integers(0, prev.num_rows, int(dup.sum()))))
                dups += again.num_rows
                t = pa.concat_tables([t, again])
            for w in np.unique((t.column("ts").cast(pa.int64()).to_numpy() // 10**6 - t0) // w_s):
                last_slice[int(w)] = k
            prev = t
        rows.append(t.num_rows)
        total += t.num_rows
        _write(os.path.join(out_dir, "slices", f"slice-{k}.parquet"), t)
    truth = {"t0_sim": t0, "slices": n_slices, "slice_rows": rows,
             "last_slice_of": {str(w): k for w, k in last_slice.items()}}
    info = {"slices": n_slices + 1, "rows": total,
            "input_bytes": sum(os.path.getsize(os.path.join(out_dir, "slices", f))
                               for f in os.listdir(os.path.join(out_dir, "slices"))),
            "offered_rate_rows_s": per * 1000.0 / interval,
            "traffic": {"late_share": late / total, "dup_share": dups / total, "window_s": w_s,
                        "lateness_s": 2 * w_s, "slice_interval_ms": interval,
                        "warm_slices": cfg["warm_slices"], "timed_slices": timed}}
    return truth, info


def generate(workload: str, out_dir: str, seed: int, cfg: dict, seconds: float) -> dict:
    """Writes the workload's inputs and truth.json under `out_dir`;
    returns the input description recorded in the artifact."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "query_sweep":
        truth, info = {}, query_sweep(out_dir, seed, cfg)
    elif workload == "stream_ingest":
        truth, info = stream_ingest(out_dir, seed, cfg, seconds)
    else:
        truth, info = globals()[workload](out_dir, seed, cfg)
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return info
