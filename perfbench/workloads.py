"""The benchmark's workloads: each turns a seed into a call plan.

A plan is a list of calls (one JSON object each) grouped into passes: pass
0 is the cold pass that ends set-up, then a fixed number of warm-up passes,
then the timed window. The window's pass count is fixed per workload for
`--seconds 20` and scales with `--seconds`; it never follows elapsed time,
so every run and every commit times the same calls after the same warm-up.
"""
import random

# (scale factor, warm-up passes, window passes at --seconds 20); a window
# pass takes about 1.5 s and 5.3 s on 4 cores
PASSES = {
    "autoapi_list": (0.1, 2, 13),
    "etl_batch": (0.02, 1, 4),
}


def window_passes(workload, seconds):
    return max(2, round(PASSES[workload][2] * seconds / 20))

AUTOAPI_SHAPES = ["filterEq", "filterRange", "searchParsed", "orderPage",
                  "orderPageEnvelope", "groupOptions", "recoverLinks", "recent"]

ETL_QUERIES = ["etl_pipeline_e2e", "etl_dedup_merge", "etl_sanitize", "etl_rename_normalize",
               "etl_quarantine", "merge_upsert", "etl_scd2", "sink_kv_batches"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut",
         "red", "new", "hot", "small", "cold", "large", "old", "big"]
P_TYPES = ["economy", "large", "medium", "promo", "small", "standard"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _date(rng, lo_year, hi_year):
    return f"{rng.randint(lo_year, hi_year)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} 00:00:00"


def autoapi_request(shape, rng, sf):
    """One AutoAPI list request of `shape` with seeded parameters, sized so
    its answer stays page-sized at any scale factor."""
    n_cust = int(150000 * sf)
    if shape == "filterEq":
        return {"segment": rng.choice(SEGMENTS), "nation": rng.randint(0, 24)}
    if shape == "filterRange":
        lo = round(rng.uniform(1000.0, 490000.0), 2)
        y = rng.randint(1995, 2000)
        return {"lo": lo, "hi": round(lo + rng.uniform(1000.0, 8000.0), 2),
                "from": f"{y}-{rng.randint(1, 12):02d}-01 00:00:00", "to": _date(rng, y + 1, 2001)}
    if shape == "searchParsed":
        tag = (f"p_brand:Brand#{rng.randint(1, 25)}" if rng.random() < 0.6
               else f"p_type:{rng.choice(P_TYPES)}")
        return {"search": f"{tag} {rng.choice(WORDS)}"}
    if shape in ("orderPage", "orderPageEnvelope"):
        req = {"order_by": rng.choice(["o_totalprice", "o_orderdate"]),
               "asc": rng.random() < 0.5, "page": rng.randint(0, 40),
               "per_page": rng.choice([10, 25, 50])}
        if shape == "orderPageEnvelope":
            req["priority"] = rng.choice(PRIORITIES)
        return req
    if shape == "groupOptions":
        if rng.random() < 0.5:
            # the 100 names sharing a key's leading 7 digits
            stem = f"{rng.randint(0, n_cust - 1):09d}"[:7]
            return {"table": "customer", "field": "c_name",
                    "prefix": "customer#" + stem, "limit": rng.choice([20, 50, 100])}
        return {"table": "part", "field": "p_name",
                "prefix": rng.choice(WORDS[8:])[:rng.randint(1, 3)], "limit": rng.choice([5, 10, 20])}
    if shape == "recoverLinks":
        lo = rng.randint(0, max(0, n_cust - 60))
        return {"lo": lo, "hi": lo + rng.randint(10, 50)}
    if shape == "recent":
        return {"event_type": rng.choice(EVENT_TYPES), "max_user": rng.randint(20, 400),
                "n": rng.choice([20, 50, 100])}
    raise ValueError(shape)


def plan(workload, seed, sf, seconds, traced, warmup=None, window=None):
    """The call plan of one run: a list of dicts with id, pass, phase,
    shape, name, sink and the request parameters. A traced run's window is
    rounded up to whole groups of four passes (untraced, traced, traced,
    untraced), so its traced and untraced passes balance."""
    rng = random.Random(f"{workload}/{seed}")
    w = PASSES[workload][1] if warmup is None else warmup
    p = window_passes(workload, seconds) if window is None else window
    if traced:
        p = -(-p // 4) * 4
    calls = []
    for pass_no in range(1 + w + p):
        phase = "cold" if pass_no == 0 else "warm" if pass_no <= w else "window"
        if workload == "autoapi_list":
            shapes = AUTOAPI_SHAPES[:]
            rng.shuffle(shapes)
            for shape in shapes:
                calls.append({"shape": shape, "name": shape, "sink": "collect",
                              **autoapi_request(shape, rng, sf)})
                calls[-1].update(pass_=pass_no, phase=phase)
        else:
            for name in ETL_QUERIES:
                calls.append({"shape": "query", "name": name, "sink": "parquet_commit",
                              "pass_": pass_no, "phase": phase})
    for i, c in enumerate(calls):
        c["id"] = i
        c["pass"] = c.pop("pass_")
        c["workload"] = workload
    return calls
