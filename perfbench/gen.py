"""Seeded input generator for the end-to-end benchmark.

    python3 perfbench/gen.py --seed N --out DIR [--workload NAME]

Writes every input a workload reads (all workloads when --workload is
omitted) under DIR/<workload>/, the inputs of its traced run's extra leg
under DIR/<workload>/<leg>/. The same seed always writes the same
bytes; the benchmark program only ever sees these files.
"""
import argparse
import csv
import json
import os
import random

# Input sizes, one place. BENCHMARK.json repeats them in each workload's
# "why" line.
SIZES = {
    "match_bulk": {"persons": 1000, "linked_share": 0.8, "distractors": 0.25},
    # the request-path leg of match_bulk's traced run: a document index,
    # a vector index, a registry, a decisions table and the request script
    "match_bulk/api": {"docs": 400, "vectors": 400, "dim": 16,
                       "registry": 600, "chunks": 3, "chunk_rows": 30,
                       "warm": 8, "requests": 20, "update_ids": 200},
    "curate_recipe": {"docs": 2500, "heldout": 60, "near_dup_share": 0.08,
                      "pii_share": 0.1, "contaminated_share": 0.03},
    # the artifact leg of curate_recipe's traced run: base rows the three
    # artifacts are built from, then seeded batches and takedown slices
    "curate_recipe/artifact": {"base": 400, "batches": 2, "batch": 100,
                               "near_dup_share": 0.2, "takedown": 15,
                               "queries": 8, "dim": 16},
}

SYLLABLES = ["ba", "be", "bi", "bo", "ca", "ce", "da", "de", "di", "fa",
             "ga", "gi", "ja", "ka", "la", "le", "li", "lo", "ma", "me",
             "mi", "mo", "na", "ne", "ni", "no", "pa", "pe", "ra", "re",
             "ri", "ro", "sa", "se", "si", "ta", "te", "ti", "to", "va",
             "vi", "za"]
ACCENTS = {"e": "é", "a": "à", "i": "ï", "o": "ô", "u": "ü", "c": "ç"}


def words(rng, n, syl_lo=2, syl_hi=3):
    """n distinct pronounceable words."""
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(SYLLABLES)
                    for _ in range(rng.randint(syl_lo, syl_hi)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def zipf_cum(n, s=1.1):
    """Cumulative Zipf weights for random.choices(cum_weights=...)."""
    acc, cum = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r ** s
        cum.append(acc)
    return cum


def write_csv(path, header, rows, sep=";"):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, delimiter=sep, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")


class People:
    """Zipf-skewed civil-state persons and their perturbed copies. The name
    lists are the same for every seed, as a country's name tables are; the
    seed draws the persons and their perturbations."""

    def __init__(self, rng):
        self.rng = rng
        names = random.Random("names")
        self.first = words(names, 300)
        self.last = words(names, 800, 2, 4)
        self.city = words(names, 60)
        self.cf, self.cl, self.cc = (zipf_cum(300), zipf_cum(800),
                                     zipf_cum(60))

    def person(self, pid):
        r = self.rng
        return [pid,
                r.choices(self.first, cum_weights=self.cf)[0],
                r.choices(self.last, cum_weights=self.cl)[0],
                "%04d%02d%02d" % (r.randint(1920, 2005), r.randint(1, 12),
                                  r.randint(1, 28)),
                r.choices(self.city, cum_weights=self.cc)[0]]

    def perturb(self, p, pid):
        """Dropped character, shifted day, accented vowel — each seeded."""
        r = self.rng
        first, last, birth, city = p[1], p[2], p[3], p[4]
        if r.random() < 0.2 and len(last) > 4:
            i = r.randrange(1, len(last) - 1)
            last = last[:i] + last[i + 1:]
        if r.random() < 0.15:
            day = int(birth[6:]) + r.choice([-1, 1])
            birth = birth[:6] + "%02d" % min(28, max(1, day))
        if r.random() < 0.25:
            i = next((j for j, ch in enumerate(first) if ch in ACCENTS), None)
            if i is not None:
                first = first[:i] + ACCENTS[first[i]] + first[i + 1:]
        return [pid, first.upper() if r.random() < 0.3 else first, last,
                birth, city]


PERSON_HEADER = ["id", "first_name", "last_name", "birth_str", "city"]


def gen_match_bulk(rng, out):
    s = SIZES["match_bulk"]
    ppl = People(rng)
    left = [ppl.person(i + 1) for i in range(s["persons"])]
    right, truth = [], []
    linked = [p for p in left if rng.random() < s["linked_share"]]
    n_right = len(linked) + int(s["persons"] * s["distractors"])
    rids = rng.sample(range(1_000_000, 1_000_000 + 10 * n_right), n_right)
    for p, rid in zip(linked, rids):
        right.append(ppl.perturb(p, rid))
        truth.append([p[0], rid])
    for rid in rids[len(linked):]:
        right.append(ppl.person(rid))
    rng.shuffle(right)
    write_csv(os.path.join(out, "left.csv"), PERSON_HEADER, left)
    write_csv(os.path.join(out, "right.csv"), PERSON_HEADER, right)
    write_csv(os.path.join(out, "truth.csv"), ["left_id", "right_id"], truth)


def doc_tokens(rng, vocab, cum, lo, hi):
    return rng.choices(vocab, cum_weights=cum, k=rng.randint(lo, hi))


# the most frequent words of the curation corpus: the quality step's
# stop-word rule needs them, as real prose has them
STOPWORDS = ["the", "of", "and", "to", "in", "a", "is", "that", "with", "be",
             "have", "for", "on", "it", "as"]


def gen_curate_recipe(rng, out):
    s = SIZES["curate_recipe"]
    # one vocabulary for every seed; the seed draws the documents
    vocab = STOPWORDS + words(random.Random("vocabulary"), 5000, 2, 4)
    cum = zipf_cum(len(vocab))
    heldout = [{"id": "h%d" % i,
                "text": " ".join(doc_tokens(rng, vocab, cum, 40, 60))}
               for i in range(s["heldout"])]
    docs = []
    for i in range(s["docs"]):
        toks = doc_tokens(rng, vocab, cum, 30, 90)
        u = rng.random()
        if u < s["pii_share"]:
            toks.insert(rng.randrange(len(toks)),
                        "%s@%s.org" % (rng.choice(vocab), rng.choice(vocab)))
            toks.insert(rng.randrange(len(toks)), "+33 6 %02d %02d %02d %02d"
                        % tuple(rng.randrange(100) for _ in range(4)))
        elif u < s["pii_share"] + s["contaminated_share"]:
            h = rng.choice(heldout)["text"].split()
            at = rng.randrange(len(toks))
            toks[at:at] = h[:20]
        docs.append({"id": "d%d" % i, "text": " ".join(toks)})
    # near-duplicates: copies of earlier docs with one word replaced
    n_dup = int(s["docs"] * s["near_dup_share"])
    for j in range(n_dup):
        src = rng.choice(docs)["text"].split()
        k = rng.randrange(len(src))
        src[k] = rng.choice(vocab)
        docs.append({"id": "n%d" % j, "text": " ".join(src)})
    rng.shuffle(docs)
    write_jsonl(os.path.join(out, "corpus.jsonl"), docs)
    write_jsonl(os.path.join(out, "heldout.jsonl"), heldout)


def unit_vector(rng, dim):
    v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
    n = sum(x * x for x in v) ** 0.5
    # five decimals: the request URL and the indexed row carry the same
    # text, so both parse to the same floats
    return [round(x / n, 5) for x in v]


def gen_match_bulk_api(rng, out):
    s = SIZES["match_bulk/api"]
    vocab = words(random.Random("api-vocabulary"), 3000, 2, 4)
    cum = zipf_cum(len(vocab))
    docs = [[i + 1, " ".join(doc_tokens(rng, vocab, cum, 15, 25))]
            for i in range(s["docs"])]
    df = {}
    for _, text in docs:
        for t in set(text.split()):
            df[t] = df.get(t, 0) + 1
    write_csv(os.path.join(out, "docs.csv"), ["id", "text"], docs)
    vecs = [{"id": i + 1, "v": unit_vector(rng, s["dim"])}
            for i in range(s["vectors"])]
    write_jsonl(os.path.join(out, "vecs.jsonl"), vecs)

    ppl = People(rng)
    registry = [ppl.person(i + 1) for i in range(s["registry"])]
    write_csv(os.path.join(out, "registry.csv"), PERSON_HEADER, registry)
    chunks = []
    for c in range(s["chunks"]):
        rows, truth = [], {}
        for j, p in enumerate(rng.sample(registry, s["chunk_rows"])):
            cid = "c%d-%d" % (c, j)
            rows.append(ppl.perturb(p, cid))
            truth[cid] = p[0]
        body = ";".join(PERSON_HEADER) + "\n" + "".join(
            ";".join(str(x) for x in r) + "\n" for r in rows)
        chunks.append({"body": body, "truth": truth})
    write_jsonl(os.path.join(out, "chunks.jsonl"), chunks)
    write_csv(os.path.join(out, "decisions.csv"), ["_id", "decision", "score"],
              [[i + 1, "unset", round(rng.random(), 4)]
               for i in range(s["update_ids"])])

    def request(op, n):
        if op == "search":
            d = rng.choice(docs)
            # the doc's three rarest tokens: it must come back
            toks = sorted(set(d[1].split()), key=lambda t: (df[t], t))[:3]
            return {"op": op, "q": "+".join(toks), "expect": d[0]}
        if op == "knn":
            v = rng.choice(vecs)
            return {"op": op, "vector": ",".join("%.5f" % x for x in v["v"]),
                    "expect": v["id"]}
        if op == "apply":
            return {"op": op, "chunk": n % s["chunks"]}
        return {"op": op, "id": rng.randint(1, s["update_ids"]),
                "value": "d%d" % rng.randrange(10 ** 6)}

    # the warm-up walks every route twice; the timed mix is 40% search,
    # 40% knn, 10% apply, 10% update
    warm = [request(op, n) for n, op in
            enumerate(["search", "knn", "apply", "update"] * 2)][:s["warm"]]
    n = s["requests"]
    ops = (["search"] * (4 * n // 10) + ["knn"] * (4 * n // 10) +
           ["apply"] * (n // 10))
    ops += ["update"] * (n - len(ops))
    rng.shuffle(ops)
    timed = [request(op, k) for k, op in enumerate(ops)]
    write_jsonl(os.path.join(out, "requests.jsonl"),
                [dict(r, phase="warm") for r in warm] +
                [dict(r, phase="timed") for r in timed])


def gen_curate_recipe_artifact(rng, out):
    s = SIZES["curate_recipe/artifact"]
    vocab = STOPWORDS + words(random.Random("vocabulary"), 5000, 2, 4)
    cum = zipf_cum(len(vocab))
    next_id = [1]

    def row(text=None):
        r = {"id": next_id[0],
             "text": text or " ".join(doc_tokens(rng, vocab, cum, 30, 50)),
             "v": unit_vector(rng, s["dim"])}
        next_id[0] += 1
        return r

    base = [row() for _ in range(s["base"])]
    write_jsonl(os.path.join(out, "base.jsonl"), base)
    seen = list(base)
    taken = set()
    for b in range(s["batches"]):
        batch = []
        for _ in range(s["batch"]):
            if rng.random() < s["near_dup_share"]:
                # a near-duplicate of an earlier doc: one word replaced
                src = rng.choice(seen)["text"].split()
                src[rng.randrange(len(src))] = rng.choice(vocab)
                batch.append(row(" ".join(src)))
            else:
                batch.append(row())
        seen += batch
        write_jsonl(os.path.join(out, "batch_%03d.jsonl" % b), batch)
        # takedowns come from the base rows, each id once
        ids = rng.sample([r["id"] for r in base if r["id"] not in taken],
                         s["takedown"])
        taken.update(ids)
        write_csv(os.path.join(out, "takedown_%03d.csv" % b), ["id"],
                  [[i] for i in sorted(ids)], sep=",")
    write_jsonl(os.path.join(out, "queries.jsonl"),
                [{"qid": q + 1, "v": unit_vector(rng, s["dim"])}
                 for q in range(s["queries"])])


GENERATORS = {
    "match_bulk": gen_match_bulk,
    "match_bulk/api": gen_match_bulk_api,
    "curate_recipe": gen_curate_recipe,
    "curate_recipe/artifact": gen_curate_recipe_artifact,
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload",
                    choices=sorted(g for g in GENERATORS if "/" not in g))
    a = ap.parse_args()
    for name in sorted(GENERATORS):
        if a.workload and name.split("/")[0] != a.workload:
            continue
        d = os.path.join(a.out, name)
        os.makedirs(d, exist_ok=True)
        # one stream per workload, so adding a workload never shifts
        # another's inputs
        GENERATORS[name](random.Random("%s/%d" % (name, a.seed)), d)


if __name__ == "__main__":
    main()
