"""Seeded generator of one Reddit-shaped month for the benchmark.

Writes, into an output directory:

- ``comments.json``   newline JSON in the ``Readers.CommentsDdl`` shape
                      (``created_utc`` a JSON number);
- ``submissions.json`` newline JSON in the ``Readers.SubmissionsDdl`` shape
                      (``created_utc`` a JSON string, as in the raw dumps);
- ``vectors.parquet`` one float vector per comment (``vec_id`` = the
                      comment id read as base 36): its community centroid
                      plus noise;
- ``labels.json``     the planted community of every subreddit;
- ``meta.json``       the sizes and the facts the checks need.

Both JSON files carry a few malformed (truncated) lines. Subreddit and
author activity are Zipf-distributed, authors mostly comment inside their
home community, ``u_*`` profile subreddits and ``[deleted]``/``[removed]``
sentinels appear, comment delays fall both inside and outside the
3 s .. 3 d window, each community has its own vocabulary, and a planted
share of comments are near-copies of a few copypasta templates.

The month's last comments form the ingest delta; comment ids run in time
order with no gaps. The ingest loop stages the delta into arrival batches
by ``md5('arr:' || id)`` mod the batch count, which is not id order. The
delta also carries a few fresh copypasta groups that appear nowhere in the
corpus: within such a group the copy seen first (lowest batch, then lowest
id) is not always the one with the lowest id, so the loop's earliest-seen
keepers differ from min-id keepers. The generator re-draws the group
positions until at least one group shows that difference.

Usage: python3 gen.py <out_dir> <seed>
"""
import hashlib
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 4

SIZES = {
    "communities": 8,
    "subs_per_community": 12,
    "authors": 1600,
    "submissions": 1000,
    "comments": 10000,
    "delta_comments": 1200,
    "ingest_batches": 3,
    "fresh_templates": 6,
    "fresh_copies": 6,
    "vec_dim": 16,
    "copypasta_templates": 6,
    "copypasta_rate": 0.04,
    "malformed_lines": 5,
}

MONTH_START = 1677628800  # 2023-03-01T00:00:00Z
MONTH_SECONDS = 31 * 86400
COMMENT_ID_BASE = 60_000_000
SUBMISSION_ID_BASE = 1_500_000

STOPWORDS = ["the", "and", "to", "of", "a", "in", "is", "it", "that", "for",
             "you", "this", "was", "on", "with", "but", "have", "are", "not",
             "be", "they", "just", "so", "what", "if", "my", "can", "all"]
SYLLABLES = ["ka", "lo", "mi", "ren", "tor", "vas", "zel", "qui", "bra", "dun",
             "fe", "gor", "hal", "ix", "jun", "kel", "mar", "nov", "pel", "sul",
             "tam", "ul", "vin", "wex", "yor", "zan"]


def base36(n):
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = ""
    while True:
        n, r = divmod(n, 36)
        out = digits[r] + out
        if n == 0:
            return out


def arrival_batch(num_id, batches):
    """The ingest loop's arrival batch: first 15 hex digits of
    md5('arr:' || id) as an integer, mod the batch count."""
    h = hashlib.md5(("arr:%d" % num_id).encode()).hexdigest()
    return int(h[:15], 16) % batches


def zipf_weights(n, s=1.1):
    return [1.0 / (i + 1) ** s for i in range(n)]


def make_word(rng, used):
    while True:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 3)))
        if w not in used:
            used.add(w)
            return w


def generate(out_dir, seed):
    rng = random.Random(seed)
    nprng = np.random.default_rng(seed)
    z = SIZES
    n_comm = z["communities"]
    used = set(STOPWORDS)

    # --- communities, subreddits, vocabularies -------------------------
    subs, sub_comm = [], {}
    comm_subs = []
    for c in range(n_comm):
        stem = make_word(rng, used)
        names = ["%s%d" % (stem, j) for j in range(z["subs_per_community"])]
        comm_subs.append(names)
        for name in names:
            subs.append(name)
            sub_comm[name] = c
    comm_vocab = [[make_word(rng, used) for _ in range(40)] for _ in range(n_comm)]
    common = [make_word(rng, used) for _ in range(60)]
    sub_w = zipf_weights(z["subs_per_community"])
    global_sub_w = [sub_w[i % z["subs_per_community"]] for i in range(len(subs))]
    vocab_w = zipf_weights(40, 1.0)

    def text(c, lo, hi):
        n = rng.randint(lo, hi)
        out = []
        for _ in range(n):
            r = rng.random()
            if r < 0.55:
                out.append(rng.choices(comm_vocab[c], vocab_w)[0])
            elif r < 0.8:
                out.append(rng.choice(common))
            else:
                out.append(rng.choice(STOPWORDS))
        return " ".join(out)

    # --- authors: home community + Zipf activity ------------------------
    authors = ["user_%04d" % i for i in range(z["authors"])]
    rng.shuffle(authors)
    author_comm = {a: rng.randrange(n_comm) for a in authors}
    author_w = zipf_weights(len(authors), 1.0)

    # --- submissions ----------------------------------------------------
    sub_posts = {s: [] for s in subs}
    submissions = []
    for i in range(z["submissions"]):
        author = rng.choices(authors, author_w)[0]
        if rng.random() < 0.03:
            author = "[deleted]"
        if rng.random() < 0.03:
            sr = "u_" + rng.choice(authors)
            c = 0
        else:
            sr = rng.choices(subs, global_sub_w)[0]
            c = sub_comm[sr]
        created = MONTH_START + rng.randrange(MONTH_SECONDS - 86400)
        sid = base36(SUBMISSION_ID_BASE + i)
        selftext = text(c, 0, 30)
        if rng.random() < 0.03:
            selftext = rng.choice(["[removed]", "[deleted]"])
        post = {"author": author, "created_utc": str(created), "id": sid,
                "score": rng.randint(0, 500), "selftext": selftext,
                "title": text(c, 3, 10),
                "url": "https://www.reddit.com/r/%s/comments/%s/" % (sr, sid),
                "subreddit": sr}
        submissions.append(post)
        sub_posts.setdefault(sr, []).append(post)

    profile_posts = [p for p in submissions if p["subreddit"].startswith("u_")]

    # --- copypasta templates ---------------------------------------------
    templates = [text(rng.randrange(n_comm), 30, 40).split()
                 for _ in range(z["copypasta_templates"])]
    fresh = [text(rng.randrange(n_comm), 30, 40).split()
             for _ in range(z["fresh_templates"])]

    def near_copy(template):
        words = list(template)
        for _ in range(rng.randint(0, 2)):
            words[rng.randrange(len(words))] = rng.choice(common)
        return " ".join(words)

    # --- comments ---------------------------------------------------------
    raw = []
    for _ in range(z["comments"]):
        author = rng.choices(authors, author_w)[0]
        home = author_comm[author]
        r = rng.random()
        if r < 0.04:
            sr = "u_" + author
        elif r < 0.84:
            sr = rng.choices(comm_subs[home], sub_w)[0]
        else:
            sr = rng.choices(subs, global_sub_w)[0]
        posts = sub_posts.get(sr) or []
        if not posts:
            # a profile without posts of its own: comment on some profile post
            post = rng.choice(profile_posts if sr.startswith("u_") else submissions)
            sr = post["subreddit"]
        else:
            post = rng.choice(posts)
        c = sub_comm.get(sr, home)
        d = rng.random()
        if d < 0.05:
            delay = rng.randint(0, 3)                      # at or below 3 s
        elif d < 0.12:
            delay = rng.randint(259200, 6 * 86400)         # at or past 3 d
        else:
            delay = int(rng.expovariate(1 / 20000.0)) + 4
            delay = min(delay, 259199)
        created = int(post["created_utc"]) + delay
        if rng.random() < z["copypasta_rate"]:
            body = near_copy(rng.choice(templates))
        else:
            body = text(c, 6, 24)
        if rng.random() < 0.02:
            body = rng.choice(["[removed]", "[deleted]"])
        if rng.random() < 0.03:
            author = "[deleted]"
        raw.append([created, author, sr, post["id"], body, c])

    # ids in time order; the month's last delta_comments comments are the
    # ingest delta (a fixed count, so every seed ingests the same amount)
    raw.sort(key=lambda r: (r[0], r[2], r[1], r[4]))
    num_ids = [COMMENT_ID_BASE + i for i in range(len(raw))]
    n_corpus = len(raw) - z["delta_comments"]
    nb = z["ingest_batches"]
    per = z["fresh_copies"]

    def reordered(group):
        """The group's lowest id arrives after some other copy of it."""
        ids = sorted(num_ids[n_corpus + k] for k in group)
        return arrival_batch(ids[0], nb) > min(arrival_batch(i, nb) for i in ids)

    while True:
        picks = rng.sample(range(z["delta_comments"]), z["fresh_templates"] * per)
        groups = [picks[g * per:(g + 1) * per] for g in range(z["fresh_templates"])]
        if any(reordered(g) for g in groups):
            break
    for template, group in zip(fresh, groups):
        for k in group:
            raw[n_corpus + k][4] = near_copy(template)
    rows = raw
    delta = raw[n_corpus:]
    comments = []
    last_in_post = {}
    for num_id, (created, author, sr, link, body, c) in zip(num_ids, rows):
        cid = base36(num_id)
        parent = "t3_" + link
        if link in last_in_post and rng.random() < 0.4:
            parent = "t1_" + last_in_post[link]
        last_in_post[link] = cid
        comments.append({"id": cid, "parent_id": parent,
                         "score": rng.randint(-5, 300), "link_id": "t3_" + link,
                         "author": author, "subreddit": sr, "body": body,
                         "created_utc": created})

    os.makedirs(out_dir, exist_ok=True)

    def write_json(name, recs):
        lines = [json.dumps(r, separators=(",", ":")) for r in recs]
        for _ in range(z["malformed_lines"]):
            pos = rng.randrange(len(lines))
            lines.insert(pos, lines[pos][: len(lines[pos]) // 2])
        with open(os.path.join(out_dir, name), "w") as f:
            f.write("\n".join(lines) + "\n")
        return sum(len(l) + 1 for l in lines)

    comment_bytes = write_json("comments.json", comments)
    write_json("submissions.json", submissions)

    # --- per-comment vectors: community centroid + noise ------------------
    dim = z["vec_dim"]
    centroids = nprng.normal(0.0, 3.0, size=(n_comm, dim))
    comm_of = np.array([r[5] for r in rows])
    vecs = (centroids[comm_of] + nprng.normal(0.0, 1.0, size=(len(rows), dim))
            ).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(num_ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })
    pq.write_table(table, os.path.join(out_dir, "vectors.parquet"))

    with open(os.path.join(out_dir, "labels.json"), "w") as f:
        for s in subs:
            f.write(json.dumps({"subreddit": s, "label": sub_comm[s]}) + "\n")

    meta = {
        "seed": seed, "gen_version": GEN_VERSION, "sizes": SIZES,
        "comments": len(comments), "submissions": len(submissions),
        "subreddits": len(subs), "delta_comments": len(delta),
        "delta_min_id": num_ids[n_corpus],
        "comment_json_bytes": comment_bytes,
        "vector_bytes": int(len(rows) * dim * 4),
        "text_bytes": sum(len(r[4].encode()) for r in rows),
        "delta_text_bytes": sum(len(r[4].encode()) for r in delta),
        "delta_vector_bytes": int(len(delta) * dim * 4),
    }
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]))))
