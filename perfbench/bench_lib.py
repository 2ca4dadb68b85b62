"""Pure logic of the benchmark: query sampling, the tail rule, span
self-time and the order-insensitive output digest. No I/O beyond what the
caller hands in, so `perfbench/test_bench_lib.py` covers all of it."""
import hashlib
import math
import random

# ---- query panels ---------------------------------------------------------

def load_panel(path):
    """`panel.tsv`: {set: [[(name, module)] per block]} for the sets
    `timed` and `warmup`, plus {module: inventory count} from its header."""
    sets, shares = {}, {}
    with open(path) as f:
        for line in f:
            if line.startswith("# inventory module counts:"):
                shares = {m: int(n) for m, n in
                          (kv.split("=") for kv in line.split(":", 1)[1].split())}
            if line.startswith("#") or not line.strip():
                continue
            kind, block, name, module = line.rstrip("\n").split("\t")
            blocks = sets.setdefault(kind, [])
            while len(blocks) <= int(block):
                blocks.append([])
            blocks[int(block)].append((name, module))
    return sets, shares


def sample_run(panel, seed):
    """The seeded inputs of one run: (warm-up names, timed names).

    The timed queries are the fixed panel, block by block, each block in a
    seeded order. The warm-up queries are fixed too, and hold no panel
    query, so no timed query runs before it is timed. The panel is the same
    for every seed: with a per-seed sample the median moved 37-40% between
    seeds, while a repeat of one sample moved 1-5%."""
    rng = random.Random(seed)
    warm = [n for b in panel["warmup"] for n, _ in b]
    order = []
    for b in panel["timed"]:
        b = [n for n, _ in b]
        rng.shuffle(b)
        order.extend(b)
    return warm, order


# ---- latency statistics ---------------------------------------------------

def tail_rank(n, beyond=10):
    """1-based rank of the highest order statistic with at least `beyond`
    samples above it, and the percentile it stands for. With `beyond` or
    fewer samples no rank qualifies; the minimum (rank 1) is used."""
    if n < 1:
        raise ValueError("no samples")
    k = max(1, n - beyond)
    return k, 100.0 * k / n


def tail(values, beyond=10):
    """(value, percentile, sample count) of the tail rule."""
    v = sorted(values)
    k, pct = tail_rank(len(v), beyond)
    return v[k - 1], pct, len(v)


# ---- spans ----------------------------------------------------------------

def self_times(spans):
    """Self time of each span: its duration minus the part of it covered by
    its children (spans of the same query whose `parent` is its name),
    counting overlapping children once. Returns [(span, self_ns)]."""
    out = []
    for s in spans:
        kids = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                      for c in spans
                      if c is not s and c["qid"] == s["qid"] and c["parent"] == s["name"])
        covered, reach = 0, s["start_ns"]
        for a, b in kids:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        out.append((s, s["end_ns"] - s["start_ns"] - covered))
    return out


# ---- output digest --------------------------------------------------------

def norm(v):
    """Cell normalisation of scripts/preflight.py: floats to 10 significant
    digits (NaN spelled out), everything else through str()."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    return str(v)


def digest(columns, rows):
    """Order-insensitive digest of a result: columns sorted by name, cells
    normalised, rows sorted. `rows` yields one tuple per row in `columns`
    order. Returns (row count, hex digest)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1d")
        h.update(line.encode())
    return len(lines), h.hexdigest()


def frame_digest(df):
    """[[digest]] of a pandas DataFrame."""
    cols = [str(c) for c in df.columns]
    return digest(cols, df.itertuples(index=False, name=None))
