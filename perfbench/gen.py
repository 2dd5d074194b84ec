"""Seeded input generator for the graft benchmark.

It shares no code with the program under test. Given a workload and a
seed it writes the op inputs under a work directory and returns the
planted ground truth that run.py checks the program's outputs against.
"""
import json
import os
import random

LEVELS = [("TOP SECRET", "TOPSECRET", "TS"), ("SECRET", "SECRET", "S"),
          ("CONFIDENTIAL", "CONFIDENTIAL", "C"), ("UNCLASSIFIED", "UNCLASSIFIED", "U")]
COMPARTMENTS = ["ALPHA", "BRAVO", "CHARLIE", "DELTA"]
DISSEM = ["NOFORN", "RELIDO", "ORCON"]
RELS = ["USA", "GBR", "CAN", "AUS", "NZL"]
STATUSES = ["new", "open", "held", "closed", "void"]
TAGS = ["t%02d" % i for i in range(40)]
# day: year, month, day; cat: 1; amt: L0..L2; geo: zoom 0..3; cat x day: 3
BINS_PER_RECORD = 3 + 1 + 3 + 4 + 3
DAY0_MS = 1704067200000  # 2024-01-01T00:00:00Z
N_KEYS = 50000
REDELIVERED = 0.03
MALFORMED = 0.02


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def _marking(rng):
    """A security marking and the classification it must parse to."""
    official, word, abbrev = LEVELS[rng.choices(range(4), weights=[1, 3, 3, 2])[0]]
    comps = [c for c in COMPARTMENTS if rng.random() < 0.3]
    dissem = [d for d in DISSEM if rng.random() < 0.2]
    rels = [r for r in RELS if rng.random() < 0.4] or [rng.choice(RELS)]
    # a compartment only parses with a delimiter after it, so one always follows
    tokens = [rng.choice([word, abbrev])] + comps + dissem + ["REL"] + rels
    cls = {"levels": [official], "compartments": comps, "releasabilities": rels,
           # no control present and a releasability present: the parser
           # injects the second configured control
           "disseminationControls": dissem or [DISSEM[1]]}
    return "_".join(tokens), cls


def etl_ingest(seed, work, batch_records, n_batches, n_warmup):
    """FlowFile-shaped attribute-record batches.

    Keys follow Zipf(1.1) over a seeded permutation of N_KEYS keys; a
    REDELIVERED share of records re-sends an earlier batch's record as
    it was; a MALFORMED share carries an unparseable number and must
    route to failure. Returns (warm-up paths, batch paths, truth), where
    truth["batches"][i] lists batch i's well-formed records as
    (key, seq, status, classification, amount, tags).
    """
    rng = random.Random("etl_ingest/%d" % seed)
    perm = list(range(N_KEYS))
    rng.shuffle(perm)
    cum, acc = [], 0.0
    for r in range(N_KEYS):
        acc += 1.0 / (r + 1) ** 1.1
        cum.append(acc)
    # seeded pools keep the per-record cost low; JSON-escaped once here
    markings = [_marking(rng) for _ in range(512)]
    tag_lists = [rng.sample(TAGS, rng.randrange(4)) for _ in range(512)]
    tag_json = [json.dumps(json.dumps(t)) for t in tag_lists]

    def batches(prefix, count, seq):
        out, earlier = [], []
        for b in range(count):
            lines, recs = [], []
            n = batch_records
            ranks = rng.choices(range(N_KEYS), cum_weights=cum, k=n)
            for rank in ranks:
                if earlier and rng.random() < REDELIVERED:
                    line, rec = rng.choice(earlier)
                else:
                    seq += 1
                    mi, ti = rng.randrange(512), rng.randrange(512)
                    key, amount = "k%06d" % perm[rank], rng.randrange(1000)
                    status = STATUSES[rng.randrange(5)]
                    f = {"amount": str(amount), "lat": "%.4f" % rng.uniform(-60, 60),
                         "ts": str(DAY0_MS + rng.randrange(366 * 86400000))}
                    rec = (key, seq, status, markings[mi][1], amount, tag_lists[ti])
                    if rng.random() < MALFORMED:
                        f[rng.choice(["amount", "lat", "ts"])] = rng.choice(["12x", "n/a", "1,5"])
                        rec = None
                    line = ('{"key":"%s","seq":"%d","ts":"%s","category":"c%02d","amount":"%s",'
                            '"score":"%.3f","lat":"%s","lon":"%.4f","marking":"%s","status":"%s",'
                            '"tags":%s}\n') % (
                        key, seq, f["ts"], rng.randrange(12), f["amount"], rng.uniform(0, 100),
                        f["lat"], rng.uniform(-170, 170), markings[mi][0], status, tag_json[ti])
                lines.append(line)
                recs.append(rec)
            path = os.path.join(work, "%s%03d.jsonl" % (prefix, b))
            with open(path, "w") as fh:
                fh.writelines(lines)
            out.append((path, [r for r in recs if r is not None]))
            earlier.extend(zip(lines, recs))
        return out

    warm = batches("warm", n_warmup, 10 ** 8)
    timed = batches("batch", n_batches, 0)
    return [p for p, _ in warm], [p for p, _ in timed], {"batches": [g for _, g in timed]}


# ---- documents for entity resolution ---------------------------------

def _vocab(rng, n=20000):
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                          for _ in range(rng.randrange(4, 10))))
    return sorted(words)


def _shingles(tokens, n=3):
    return {" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a, b):
    sa, sb = _shingles(a.split()), _shingles(b.split())
    return len(sa & sb) / len(sa | sb)


class Corpus:
    """Documents with planted near-duplicate clusters.

    A variant always copies a root, a document that is not itself a
    variant: a variant of a variant could sit below the similarity
    threshold from the root and plant a match that cannot exist.
    """

    def __init__(self, rng, prefix):
        self.rng, self.prefix = rng, prefix
        self.vocab = _vocab(rng)
        self.text = {}      # id -> text
        self.cluster = {}   # id -> root id
        self.roots = []     # stored roots, variant sources
        self.next = 0

    def _id(self):
        self.next += 1
        return "%s%08d" % (self.prefix, self.next)

    def fresh(self):
        tokens = [self.rng.choice(self.vocab) for _ in range(self.rng.randrange(30, 46))]
        i = self._id()
        self.text[i] = " ".join(tokens)
        self.cluster[i] = i
        return i

    def variant_text(self, root):
        """Two interior substitutions, or a cut to the first 80%; Jaccard
        of word 3-shingles to the root stays >= 0.6 either way."""
        tokens = self.text[root].split()
        while True:
            t = list(tokens)
            if self.rng.random() < 0.5:
                t = t[:int(len(t) * 0.8)]
            else:
                a = self.rng.randrange(3, len(t) // 2 - 2)
                b = self.rng.randrange(len(t) // 2 + 2, len(t) - 3)
                t[a], t[b] = self.rng.choice(self.vocab), self.rng.choice(self.vocab)
            text = " ".join(t)
            if text != self.text[root] and jaccard(text, self.text[root]) >= 0.6:
                return text

    def variant(self, root):
        i = self._id()
        self.text[i] = self.variant_text(root)
        self.cluster[i] = root
        return i

    def batch(self, n, variant_share):
        """n documents; round(n * variant_share) of them, at seeded
        positions, copy roots stored before this batch."""
        k = round(n * variant_share) if self.roots else 0
        variant_at = set(self.rng.sample(range(n), k))
        ids, new_roots = [], []
        for j in range(n):
            if j in variant_at:
                ids.append(self.variant(self.rng.choice(self.roots)))
            else:
                ids.append(self.fresh())
                new_roots.append(ids[-1])
        self.roots.extend(new_roots)
        return ids

    def write(self, path, ids):
        _write_jsonl(path, [{"doc_id": i, "text": self.text[i]} for i in ids])

    def labels(self, ids):
        """Planted canonical label (least id of the cluster) of each id."""
        least = {}
        for i in ids:
            r = self.cluster[i]
            least[r] = min(least.get(r, i), i)
        return {i: least[self.cluster[i]] for i in ids}


def er_ingest(seed, work, base_docs, batch_docs, n_batches, n_warmup, variant_share):
    """Two document series, a warm-up one and a timed one, each a base
    batch and then batches in which variant_share of the documents are
    near-duplicates of roots stored before them. Returns (warm-up paths,
    base path, timed batch paths, truth)."""
    rng = random.Random("er_ingest/%d" % seed)

    def series(prefix, count):
        c = Corpus(rng, prefix)
        ids = [c.batch(base_docs, 0.0)] + [c.batch(batch_docs, variant_share) for _ in range(count)]
        paths = [os.path.join(work, "%s%03d.jsonl" % (prefix, b)) for b in range(len(ids))]
        for p, b in zip(paths, ids):
            c.write(p, b)
        return c, paths, ids

    _, warm, _ = series("w", n_warmup)
    corpus, paths, ids = series("d", n_batches)
    return warm, paths[0], paths[1:], {"corpus": corpus, "base": ids[0], "batches": ids[1:]}
