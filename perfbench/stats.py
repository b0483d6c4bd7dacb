"""Arithmetic of the benchmark: percentiles, failure share, span self time
and driver gap, and the reduction of one run's raw record to its
end-to-end and per-layer metrics. Self-tested by test_stats.py."""
import math
import statistics


def min_samples(p):
    """Fewest samples for which percentile p (0 < p < 100) has at least
    ten samples beyond it: n * (1 - p/100) >= 10."""
    return math.ceil(10 / (1 - p / 100) - 1e-9)


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs) - 1e-9))
    return xs[rank - 1]


def median(values):
    return statistics.median(values) if values else 0.0


def fail_frac(attempted, failed):
    """Failed or wrong operations over attempted operations."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failures out of {attempted} attempts")
    return failed / attempted


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if min(e, end) > max(s, start)]


def self_time(span, children):
    """Span duration minus the part of it its child spans cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def driver_gap(span, jobs):
    """Span wall time not covered by any of its Spark jobs: driver work
    between and around jobs."""
    s, e = span
    return (e - s) - union_length(clip(jobs, s, e))


# ---- end-to-end metrics (untraced run) ----

def end_to_end(rec):
    lat = [x["s"] for x in rec["latencies"]]
    m = {
        "setup_s": (median([s["setup_s"] for s in rec["setups"]]), "s"),
        "query_p50_s": (median(lat), "s"),
        "query_p90_s": (percentile(lat, 90), "s"),
        "queries_per_s": (len(lat) / sum(lat), "1/s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "index_bytes_per_text_byte": (sum(rec["index_bytes"].values()) / rec["text_bytes"], "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# ---- per-layer metrics (traced run) ----

class Trace:
    def __init__(self, t):
        self.spans = t["spans"]
        self.groups = t["groups"]
        self.jobs = {}
        for j in t["jobs"]:
            if j["end_ms"] >= 0:
                self.jobs.setdefault(j["group"], []).append((j["start_ms"], j["end_ms"]))

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    @staticmethod
    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def count(self, s, key):
        return self.groups.get(f"span-{s['id']}", {}).get(key, 0)

    def gap(self, s):
        return driver_gap((s["start_ms"], s["end_ms"]),
                          self.jobs.get(f"span-{s['id']}", [])) / 1e3

    def self_time(self, s):
        kids = [(c["start_ms"], c["end_ms"]) for c in self.spans if c["parent"] == s["id"]]
        return self_time((s["start_ms"], s["end_ms"]), kids) / 1e3

    def last(self, name):
        """The last span of `name`, as a list: the warmest set-up."""
        return self.named(name)[-1:]

    def summary(self):
        """Per span name: count, total and self seconds, Spark jobs."""
        out = {}
        for s in self.spans:
            e = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0})
            e["count"] += 1
            e["total_s"] += self.dur(s)
            e["self_s"] += self.self_time(s)
            e["jobs"] += self.count(s, "jobs")
        return out


def per_layer(rec):
    t = Trace(rec["trace"])
    med = lambda spans, f: median([f(s) for s in spans])
    mean = lambda spans, f: (sum(f(s) for s in spans) / len(spans)) if spans else 0.0
    build = t.last("build.build")
    topk = t.named("score.topk")
    per_req = {}
    for s in t.spans:
        if s["req"] >= 0 and s["name"] in ("model.plan", "score.topk", "api.search"):
            per_req.setdefault(s["req"], {})[s["name"]] = t.dur(s)
    fetch = [r["api.search"] - r["model.plan"] - r["score.topk"]
             for r in per_req.values() if len(r) == 3]
    hits = sum(s["attrs"].get("hits", 0) for s in topk)
    a = rec["analysis"]
    mb = 1e6
    m = {
        "analysis.docs_per_s": (a["docs"] / a["s"], "1/s"),
        "corpus.docids_s": (med(t.last("corpus.docids"), t.dur), "s"),
        "build.build_s": (med(build, t.dur), "s"),
        "build.task_cpu_s": (med(build, lambda s: t.count(s, "cpu_ns") / 1e9), "s"),
        "build.gc_s": (med(build, lambda s: t.count(s, "gc_ms") / 1e3), "s"),
        "build.shuffle_write_mb": (med(build, lambda s: t.count(s, "shuffle_write_bytes") / mb), "MB"),
        "build.spill_mb": (med(build, lambda s: t.count(s, "spill_bytes") / mb), "MB"),
        "build.jobs": (med(build, lambda s: t.count(s, "jobs")), "count"),
        "build.segments_s": (med(t.last("build.segments"), t.dur), "s"),
        "build.postings_mb": (rec["index_bytes"]["postings"] / mb, "MB"),
        "build.termstats_mb": (rec["index_bytes"]["termstats"] / mb, "MB"),
        "build.segments_mb": (rec["index_bytes"]["segments"] / mb, "MB"),
        "model.plan_s": (med(t.named("model.plan"), t.dur), "s"),
        "score.topk_s": (med(topk, t.dur), "s"),
        "score.jobs_per_query": (mean(topk, lambda s: t.count(s, "jobs")), "count"),
        "score.driver_gap_s": (med(topk, t.gap), "s"),
        "score.input_mb_per_query": (mean(topk, lambda s: t.count(s, "input_bytes") / mb), "MB"),
        "score.rows_read_per_hit": (sum(t.count(s, "input_records") for s in topk) / max(hits, 1), "ratio"),
        "score.shuffle_mb_per_query": (mean(topk, lambda s: t.count(s, "shuffle_write_bytes") / mb), "MB"),
        "score.task_cpu_s_per_query": (mean(topk, lambda s: t.count(s, "cpu_ns") / 1e9), "s"),
        "score.wand_frac": (mean(topk, lambda s: 1.0 if s["attrs"].get("wand") else 0.0), "ratio"),
        "api.fetch_s": (median(fetch), "s"),
        "api.facet_s": (med(t.named("api.facet"), t.dur), "s"),
        "jvm.gc_s": (rec["gc_s"], "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def trace_overhead(overhead):
    """Tracing overhead on like-for-like calls: the median latency of the
    same requests with each call in a span and the listener attached, over
    their median with the tracer detached, minus one."""
    if not overhead["traced"] or not overhead["untraced"]:
        raise ValueError("overhead needs traced and untraced samples")
    return median(overhead["traced"]) / median(overhead["untraced"]) - 1
