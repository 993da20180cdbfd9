"""Output checkers: each compares one operation's output with the
generator's planted truth and returns a list of mismatch messages (empty
when the output is correct). They take plain Python data so the
self-tests can feed them doctored outputs."""

from gen import UnionFind


def truth_components(truth, present=None):
    """id -> min id of its planted cluster among the rows in `present`
    (all rows if None). Present rows connect through their entity (its
    base row arrives first), through identical names, and through the
    truth's close name pairs whose names are both present."""
    ids = truth.get("id") or truth["ref"]
    uf = UnionFind()
    live = set()
    for i, e, n in zip(ids, truth["entity"], truth["name"]):
        if present is None or i in present:
            uf.union(("e", e), ("n", n))
            live.add(n)
    for a, b in truth["links"]:
        if a in live and b in live:
            uf.union(("n", a), ("n", b))
    members = {}
    for i, e in zip(ids, truth["entity"]):
        if present is None or i in present:
            members.setdefault(uf.find(("e", e)), []).append(i)
    label = {}
    for ms in members.values():
        m = min(ms)
        label.update((i, m) for i in ms)
    return label


def check_accounts(truth, rows):
    """`rows`: (ref, Name, IBAN, id) of the loaded accounts table. One row
    per distinct (Name, IBAN), a real row of its group, ids dense 0..n-1
    in ref order."""
    errs = []
    groups = {}
    for ref, n, a in zip(truth["ref"], truth["name"], truth["iban"]):
        groups.setdefault((n, a), set()).add(ref)
    if len(rows) != len(groups):
        errs.append("%d rows loaded, %d distinct (Name, IBAN)" % (len(rows), len(groups)))
    seen = set()
    for ref, n, a, _ in rows:
        if (n, a) in seen:
            errs.append("duplicate (Name, IBAN) %r" % ((n, a),))
        seen.add((n, a))
        if ref not in groups.get((n, a), ()):
            errs.append("ref %s is not a row of %r" % (ref, (n, a)))
    ids = [i for _, _, _, i in sorted(rows, key=lambda r: r[0])]
    if ids != list(range(len(rows))):
        errs.append("ids are not dense 0..n-1 in ref order")
    return errs[:20]


def check_clusters(truth, rows, clusters):
    """`clusters`: (component, [member ids]) per output row, ids as in the
    accounts `rows`. Every account sits in exactly one cluster, the
    clusters are the planted ones, each labelled by its minimum id."""
    errs = []
    ref_of = {i: ref for ref, _, _, i in rows}
    label = truth_components(truth)
    seen, want = set(), {}
    for comp, members in clusters:
        if comp != min(members):
            errs.append("component %s is not its minimum member %s"
                        % (comp, min(members)))
        for i in members:
            if i not in ref_of or i in seen:
                errs.append("id %s is unknown or in two clusters" % i)
            seen.add(i)
        want.setdefault(frozenset(label.get(ref_of.get(i)) for i in members),
                        []).append(comp)
    if len(seen) != len(ref_of):
        errs.append("%d accounts in no cluster" % len(set(ref_of) - seen))
    for roots, comps in want.items():
        if len(roots) != 1:
            errs.append("cluster %s merges %d planted clusters" % (comps[0], len(roots)))
        elif len(comps) != 1:
            errs.append("a planted cluster is split into %d clusters" % len(comps))
    return errs[:20]


def check_batch(truth, batches_done, labels, novel, counts, prev_counts):
    """One daily batch. `labels`: id -> component for the batch's rows,
    after `batches_done` batches (this one included); `novel`: batch rows
    the key index did not hold. `counts` and `prev_counts`: standing-table
    row counts (key_rows, var_key_rows, member_rows) after and before the
    fold."""
    errs = []
    present = {i for i, s in zip(truth["id"], truth["slice"]) if s <= batches_done}
    want = truth_components(truth, present)
    batch_ids = [i for i, s in zip(truth["id"], truth["slice"]) if s == batches_done]
    if sorted(labels) != sorted(batch_ids):
        errs.append("labels cover %d ids, batch has %d" % (len(labels), len(batch_ids)))
    bad = [i for i in batch_ids if labels.get(i) != want[i]]
    if bad:
        errs.append("%d batch ids mislabelled, e.g. %s: %s != %s"
                    % (len(bad), bad[0], labels.get(bad[0]), want[bad[0]]))
    before = {n for n, s in zip(truth["name"], truth["slice"]) if s < batches_done}
    batch_names = [n for n, s in zip(truth["name"], truth["slice"]) if s == batches_done]
    novel_names = set(batch_names) - before
    want_novel = sum(1 for n in batch_names if n in novel_names)
    if novel != want_novel:
        errs.append("%d novel rows served, expected %d" % (novel, want_novel))
    for key, grow in (("key_rows", len(novel_names)),
                      ("var_key_rows", len(novel_names)),
                      ("member_rows", len(batch_ids))):
        if counts[key] - prev_counts[key] != grow:
            errs.append("%s grew by %d, expected %d"
                        % (key, counts[key] - prev_counts[key], grow))
    return errs
