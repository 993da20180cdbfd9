"""Seeded counterparty generator with planted truth.

Every workload's inputs are a pure function of (workload, seed, profile):
the same arguments give byte-identical files. Entities are pseudo-word
company names; each entity contributes a base row plus exact duplicates
and 1..k-edit variants of its base name, with entity sizes drawn from a
Zipf tail. The truth is exact: every variant is at most k edits from its
entity's base row, the base row arrives first, and every cross-entity
pair of distinct names within k edits is found here (pigeonhole segment
filter + banded Levenshtein) and kept as a link of the truth.

    python3 perfbench/gen.py --workload link_batch --seed 1 --out DIR
"""

import argparse
import csv
import json
import os
import random
import sys

SYLLABLE_ONSETS = "b c d f g h k l m n p r s t v z br dr kr pr st tr".split()
VOWELS = "a e i o u ai ei ou".split()
CODAS = ["", "", "", "n", "r", "s", "l", "k"]
SUFFIXES = "Ltd GmbH AG SA BV Inc LLC plc Oy AB SpA Srl".split()
ALPHABET = "abcdefghijklmnopqrstuvwxyz"

# Traffic dimensions per workload. Where a value comes from the sizing
# the workloads were specified with (measured on unmodified operators),
# the comment says "sizing"; every other value is an assumption, with
# the reason it was picked. No public sample of counterparty data is in
# the repository to set them from; perfbench/README.md lists them all.
#
#   k            sizing: lev <= 2 for the batch link, <= 1 for the daily
#                standing index.
#   zipf_a,      sizing: 20,000 entities gave 48,489 rows, 2.42 rows per
#   max_cluster  entity; P(s) ~ s^-2.27 on 1..300 has mean 2.42 and gives
#                the "entities with hundreds of rows" the skew asks for.
#   exact_share, assumption: a third of an entity's extra rows repeat an
#   variant_share  earlier row, two thirds are 1..k-edit variants, so the
#                exact dedup removes a visible share and the fuzzy join
#                still carries most of each cluster.
#   vocab, words assumption: 1-3 pseudo-words from a few thousand plus a
#                legal-form suffix, 10-30 characters like company names;
#                the vocabulary is large enough that distinct entities
#                seldom fall within k edits (tens of cross-entity links).
#   rows         planted rows, fixed so that sizes do not vary with the
#                seed; assumption, picked for the run budget (all runs of
#                a comparison share 57 minutes): 1,000 and 4,000 entities
#                at 2.42 rows each. link_batch: at the sizing's 20,000
#                entities a steady pass takes ~11 s and a run could time
#                one. daily_serve: the sizing's 24,409-row corpus made the
#                cold publish ~5 s longer than this ~8,100-row one at
#                about the same cost per batch (overhead-bound).
#   copies       assumption: each account recurs in 1 + Exp(mean 12)
#                payment rows of the CSV, about one payment a month over
#                a year, so CSV parsing and the exact dedup shuffle (the
#                ETL layers) carry a share of a pass; ~93% of the CSV rows
#                repeat an account already in it.
#   batch_rows   sizing: ~120-row daily batches.
#   batches      as many as a run can use: 2 warm-up batches, then two
#                8 s windows (timed, traced) of at most 4 batches each,
#                i.e. no less than 2 s a batch (a batch takes 5-8 s on 4
#                cores today).
ZIPF = dict(zipf_a=2.27, max_cluster=300, exact_share=0.35, variant_share=0.65)
PROFILES = {
    "link_batch": dict(ZIPF, rows=2420, k=2, vocab=2000, words=(1, 3),
                       copies=12),
    "daily_serve": dict(ZIPF, rows=9680, k=1, vocab=3000, words=(1, 3),
                        batches=10, batch_rows=120),
    # Tiny inputs for the self-tests.
    "tiny": dict(ZIPF, rows=726, k=2, vocab=400, words=(1, 3), copies=2,
                 batches=4, batch_rows=30),
}


def make_vocab(rng, size):
    words = set()
    while len(words) < size:
        n = rng.choice((2, 2, 3, 3, 4))
        w = "".join(rng.choice(SYLLABLE_ONSETS) + rng.choice(VOWELS)
                    for _ in range(n)) + rng.choice(CODAS)
        words.add(w.capitalize())
    return sorted(words)


def zipf_size(rng, a, cap, _cache={}):
    """Entity row count from P(s) ~ s^-a on 1..cap (inverse CDF)."""
    key = (a, cap)
    if key not in _cache:
        w = [s ** -a for s in range(1, cap + 1)]
        tot, acc, cdf = sum(w), 0.0, []
        for x in w:
            acc += x
            cdf.append(acc / tot)
        _cache[key] = cdf
    cdf = _cache[key]
    u = rng.random()
    lo, hi = 0, len(cdf) - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if cdf[mid] < u:
            lo = mid + 1
        else:
            hi = mid
    return lo + 1


def edit(rng, s, n):
    """Apply n single-character edits (substitute, insert, delete)."""
    for _ in range(n):
        op = rng.random()
        i = rng.randrange(len(s))
        if op < 0.4:
            c = rng.choice(ALPHABET)
            while c == s[i].lower():
                c = rng.choice(ALPHABET)
            s = s[:i] + c + s[i + 1:]
        elif op < 0.7 or len(s) < 6:
            s = s[:i] + rng.choice(ALPHABET) + s[i:]
        else:
            s = s[:i] + s[i + 1:]
    return s


def iban(rng):
    return "DE%02d%018d" % (rng.randrange(100), rng.randrange(10 ** 18))


def plant(rng, p):
    """`rows` rows (entity, name, iban) in generation order, each entity's
    base row first. Entities are added until the rows are planted, the
    last one cut to fit, so the input size does not vary with the seed."""
    vocab = make_vocab(rng, p["vocab"])
    lo, hi = p["words"]
    seen, rows = set(), []
    e = -1
    while len(rows) < p["rows"]:
        e += 1
        while True:
            name = " ".join(rng.choice(vocab)
                            for _ in range(rng.randint(lo, hi)))
            name += " " + rng.choice(SUFFIXES)
            if name not in seen:
                break
        seen.add(name)
        acct = iban(rng)
        ent_rows = [(e, name, acct)]
        size = zipf_size(rng, p["zipf_a"], p["max_cluster"])
        for _ in range(min(size, p["rows"] - len(rows)) - 1):
            u = rng.random() * (p["exact_share"] + p["variant_share"])
            if u < p["exact_share"]:
                ent_rows.append(rng.choice(ent_rows))
            else:
                ent_rows.append((e, edit(rng, name, rng.randint(1, p["k"])), acct))
        rows.extend(ent_rows)
    return rows


def lev_within(a, b, k):
    """True iff Levenshtein(a, b) <= k (banded DP)."""
    if abs(len(a) - len(b)) > k:
        return False
    prev = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        cur = [i] + [k + 1] * len(b)
        lo, hi = max(1, i - k), min(len(b), i + k)
        best = cur[0] if lo == 1 else k + 1
        for j in range(lo, hi + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
            best = min(best, cur[j])
        if best > k:
            return False
        prev = cur
    return prev[len(b)] <= k


def segments(n, k):
    """Even split of a length-n string into k+1 (start, length) parts."""
    base, extra = divmod(n, k + 1)
    out, pos = [], 0
    for i in range(k + 1):
        ln = base + (1 if i >= k + 1 - extra else 0)
        out.append((pos, ln))
        pos += ln
    return out


def char_hist(s):
    h = [0] * 64
    for c in s:
        h[ord(c) & 63] += 1
    return h


def close_pairs(names, k, joined=None):
    """All pairs (i, j), i < j, of distinct strings with Levenshtein <= k,
    skipping pairs for which `joined(i, j)` says they are connected anyway.

    Pigeonhole filter: if lev(r, s) <= k, one of s's k+1 segments occurs
    unedited in r, shifted by at most k. A character-histogram bound
    (each edit changes it by at most 2) prunes before the exact check."""
    hists = [char_hist(s) for s in names]
    index = {}
    for j, s in enumerate(names):
        for i, (p, ln) in enumerate(segments(len(s), k)):
            index.setdefault((len(s), i, s[p:p + ln]), []).append(j)
    out = set()
    for r_i, r in enumerate(names):
        for ln_s in range(max(1, len(r) - k), len(r) + 1):
            for i, (p, ln) in enumerate(segments(ln_s, k)):
                for d in range(-k, k + 1):
                    q = p + d
                    if q < 0 or q + ln > len(r):
                        continue
                    for j in index.get((ln_s, i, r[q:q + ln]), ()):
                        if j == r_i:
                            continue
                        a, b = min(r_i, j), max(r_i, j)
                        if (a, b) in out or (joined and joined(a, b)):
                            continue
                        if sum(abs(x - y) for x, y in zip(hists[a], hists[b])) \
                                <= 2 * k and lev_within(r, names[j], k):
                            out.add((a, b))
    return out


class UnionFind:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def cross_entity_links(rows, k, partial):
    """Name pairs (a, b), a < b, within k edits that the planted entities
    may not already connect. With every row present (`partial` false) a
    pair whose names share an entity is implied; when only a prefix of
    the slices is present, only pairs of names of one and the same single
    entity are (its base row arrives first)."""
    by_name = {}
    for e, n, _ in rows:
        by_name.setdefault(n, set()).add(e)
    names = sorted(by_name)
    owners = [by_name[n] for n in names]
    if partial:
        def joined(a, b):
            return len(owners[a]) == 1 and owners[a] == owners[b]
    else:
        def joined(a, b):
            return bool(owners[a] & owners[b])
    return sorted((names[a], names[b]) for a, b in close_pairs(names, k, joined))


def write_parquet(path, cols):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table(cols), path, compression="snappy")


def gen_link_batch(seed, out, p):
    """`payments.csv` in DAG/ETL.py's shape (ref, Name, IBAN, amount):
    every planted row is repeated as exact copies (mean `copies` extra),
    each copy with its own ref and amount."""
    rng = random.Random(seed)
    planted = plant(rng, p)
    rows = [r for r in planted
            for _ in range(1 + int(rng.expovariate(1.0 / p["copies"])))]
    rng.shuffle(rows)
    refs = rng.sample(range(10 * len(rows)), len(rows))
    with open(os.path.join(out, "payments.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["ref", "Name", "IBAN", "amount"])
        for ref, (_, name, acct) in zip(refs, rows):
            w.writerow([ref, name, acct,
                        "%d.%02d" % (rng.randrange(100000), rng.randrange(100))])
    return {"k": p["k"], "ref": refs, "entity": [r[0] for r in rows],
            "name": [r[1] for r in rows], "iban": [r[2] for r in rows],
            "links": cross_entity_links(planted, p["k"], partial=False)}


def gen_daily_serve(seed, out, p):
    """Corpus plus `batches` daily batches of `batch_rows` rows. An entity
    arrives in one slice (its base row with it) and its other rows land
    in that slice or later ones; ids grow with arrival order."""
    rng = random.Random(seed)
    rows = plant(rng, p)
    budget = p["batches"] * p["batch_rows"]
    # Rows that arrive in batches: a quarter of the entities drawn
    # (assumption) are new, base row and all; the others keep a prefix
    # in the corpus and send a random tail of their rows.
    by_ent = {}
    for r in rows:
        by_ent.setdefault(r[0], []).append(r)
    ents = list(by_ent)
    rng.shuffle(ents)
    corpus, late = [], []
    for e in ents:
        erows = by_ent[e]
        take = 0
        if budget > 0 and rng.random() < 0.25 and len(erows) <= budget:
            take = len(erows)
        elif budget > 0 and len(erows) > 1:
            take = min(budget, rng.randint(0, len(erows) - 1))
        budget -= take
        corpus += erows[:len(erows) - take]
        if take:
            late.append(erows[len(erows) - take:])
    # Shuffle the late rows into one arrival sequence, then give each
    # entity's rows its positions in order, so a new entity's base row
    # comes first; cut the sequence into equal batches.
    seq = [(g, x) for g, grp in enumerate(late) for x in range(len(grp))]
    rng.shuffle(seq)
    positions = {}
    for pos, (g, _) in enumerate(seq):
        positions.setdefault(g, []).append(pos)
    arrival = [None] * len(seq)
    for g, grp in enumerate(late):
        for pos, r in zip(positions[g], grp):
            arrival[pos] = r
    n = p["batch_rows"]
    slices = [corpus] + [arrival[b:b + n] for b in range(0, len(arrival), n)]
    ids, entity, names, ibans, slice_ix = [], [], [], [], []
    next_id = 0
    for s, srows in enumerate(slices):
        rng.shuffle(srows)
        fresh = list(range(next_id, next_id + len(srows)))
        rng.shuffle(fresh)
        next_id += len(srows)
        if s == 0:
            fname = "corpus.parquet"
        else:
            fname = "batch_%03d.parquet" % s
        write_parquet(os.path.join(out, fname), {
            "id": fresh, "name": [r[1] for r in srows],
            "iban": [r[2] for r in srows]})
        ids += fresh
        entity += [r[0] for r in srows]
        names += [r[1] for r in srows]
        ibans += [r[2] for r in srows]
        slice_ix += [s] * len(srows)
    return {"k": p["k"], "id": ids, "entity": entity, "name": names,
            "iban": ibans, "slice": slice_ix, "batches": len(slices) - 1,
            "links": cross_entity_links(list(zip(entity, names, ibans)), p["k"],
                                        partial=True)}


GENERATORS = {"link_batch": gen_link_batch, "daily_serve": gen_daily_serve}


def generate(workload, seed, out, profile=None):
    """Write the workload's input files under `out`; return its truth."""
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out, PROFILES[profile or workload])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    truth = generate(a.workload, a.seed, a.out)
    with open(os.path.join(a.out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
