"""Seeded synthetic tweet corpus for the benchmark workloads.

The corpus follows the reference tweet schema (FIXTURES.md section 1):
`user.id`, `text`, `hashtagEntities`, `hashtagEntitiesArray` and a nullable
`retweeted_status` that carries the original post's author, text and tags.

Properties the pipeline's cost depends on, and how they are set:
  * user activity is Zipf-distributed, so a few hub users post and get
    retweeted most;
  * users belong to equal-sized communities, each with a small pool of hot
    tags, and retweet mostly inside their community (`rt_local`); the share
    of tags drawn from those pools sets how many candidate pairs the
    Jaccard self-join sees and how many pass the >0.5 threshold;
  * tag spellings vary in case and accents (the characters of
    `Normalize.Accented`), so normalization decides which tags are equal;
  * null and empty `hashtagEntitiesArray` values exercise the reference's
    `[] -> [""]` quirk.

The same (profile, seed) always gives a byte-identical corpus.
"""
import json
import random

ACCENTED = "ãäöüẞáäčďéěíĺľňóôŕšťúùůýž"
PLAIN = "aaousaacdeeillnoorstuuuyz"

# plain letter -> accented spellings that normalize back to it ('ẞ' is
# left out: lower('ẞ') is 'ß', which the translate table does not map)
VARIANTS = {}
for a, p in zip(ACCENTED, PLAIN):
    if a != "ẞ" and a not in VARIANTS.get(p, ""):
        VARIANTS[p] = VARIANTS.get(p, "") + a
_TRANSLATE = {}
for a, p in zip(ACCENTED, PLAIN):
    _TRANSLATE.setdefault(ord(a), p)  # first mapping wins, as in Spark

PROFILES = {
    # The paper's workload: many users, a long-tail tag vocabulary and
    # loose communities, so Jaccard work is small and the CLI's fixed
    # per-output costs dominate.
    "cli": dict(tweets=2000, users=1200, zipf=1.1, communities=60,
                pool=12, p_pool=0.25, hot=4, p_hot=0.01, vocab=6000,
                max_tags=3, p_rt=0.3, rt_local=0.0),
    # Library users over a tag-dense corpus: tight communities with small
    # hot pools plus a few global hot tags, so the self-join emits many
    # candidate pairs and thousands of Jaccard edges.
    "jaccard": dict(tweets=8000, users=900, zipf=0.8, communities=45,
                    pool=4, p_pool=0.9, hot=4, p_hot=0.08, vocab=8000,
                    max_tags=3, p_rt=0.3, rt_local=0.9),
}

_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da", "fe",
        "gi", "ho", "ju", "pa", "ze", "cy", "wo", "xi", "qu"]
_WORDS = ["spark", "graph", "data", "hello", "world", "news", "today",
          "naïve", "tëst", "café", "big", "fast", "slow", "party", "vote",
          "river", "city", "music", "game", "science", "über", "šťastný"]


def normalize_tag(tag):
    """Python twin of `Normalize.normalizeTag`: lowercase, then de-accent."""
    return tag.lower().translate(_TRANSLATE)


def _vocabulary(rng, n):
    words, seen = [], set()
    while len(words) < n:
        w = "".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4)))
        if rng.random() < 0.05:
            w += "straße"[: rng.randint(4, 6)]  # some tags carry 'ß'
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _spell(rng, tag):
    """A case/accent variant of `tag` that normalizes back to it, or a
    'ẞ' spelling of a 'ß' tag (which normalizes to the 'ß' form)."""
    r = rng.random()
    if r < 0.6:
        return tag
    out = []
    for ch in tag:
        if ch == "ß":
            out.append("ẞ" if rng.random() < 0.5 else ch)
        elif ch in VARIANTS and rng.random() < 0.4:
            v = rng.choice(VARIANTS[ch])
            out.append(v.upper() if rng.random() < 0.3 else v)
        elif rng.random() < 0.3:
            out.append(ch.upper())
        else:
            out.append(ch)
    return "".join(out)


def _text(rng, tags):
    parts = [rng.choice(_WORDS) for _ in range(rng.randint(3, 9))]
    parts += ["#" + t for t in tags]
    if rng.random() < 0.3:
        parts.append(str(rng.randint(0, 9999)))
    if rng.random() < 0.2:
        parts.append(rng.choice(["!!", "...", "?", ":)", "-", "&"]))
    if rng.random() < 0.02:
        parts = [str(rng.randint(0, 99)), "!!"]  # cleans to ""
    rng.shuffle(parts)
    return " ".join(parts)


def _entities(rng, tags):
    """(hashtagEntities, hashtagEntitiesArray) for a post's raw tags."""
    if tags:
        arr = list(tags)
        if rng.random() < 0.1:
            arr.append(arr[0])  # duplicate tag inside one array
        if rng.random() < 0.03:
            return [{"text": t} for t in tags], None
        return [{"text": t} for t in tags], arr
    r = rng.random()
    if r < 0.45:
        return [], []          # empty array: the [] -> [""] quirk
    if r < 0.9:
        return None, None      # no entities at all
    return [], None


def generate(profile, seed):
    """Returns (jsonl_bytes, stats) for the named profile and seed."""
    p = PROFILES[profile]
    rng = random.Random(f"{profile}:{seed}")
    ids, seen = [], set()
    while len(ids) < p["users"]:
        i = rng.randrange(1, 10 ** rng.randint(1, 10))
        if i not in seen:
            seen.add(i)
            ids.append(i)
    weights = [1.0 / (r + 1) ** p["zipf"] for r in range(len(ids))]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    vocab = _vocabulary(rng, p["vocab"] + p["communities"] * p["pool"] + p["hot"])
    hot = vocab[: p["hot"]]
    pools = [vocab[p["hot"] + c * p["pool"]: p["hot"] + (c + 1) * p["pool"]]
             for c in range(p["communities"])]
    tail = vocab[p["hot"] + p["communities"] * p["pool"]:]
    community = {u: i % p["communities"] for i, u in enumerate(ids)}

    lines, originals, by_comm = [], [], {}
    n_rt = 0
    for _ in range(p["tweets"]):
        uid = rng.choices(ids, cum_weights=cum)[0]
        if originals and rng.random() < p["p_rt"]:
            # retweet: the original's author, text and tags ride along,
            # and the retweet's own entities mirror them (or are absent)
            local = by_comm.get(community[uid])
            pick = local if local and rng.random() < p["rt_local"] else originals
            orig = pick[rng.randrange(len(pick))]
            own = (orig["hashtagEntities"], orig["hashtagEntitiesArray"]) \
                if rng.random() < 0.8 else (None, None)
            tw = {"user": {"id": uid}, "text": "RT " + orig["text"],
                  "hashtagEntities": own[0], "hashtagEntitiesArray": own[1],
                  "retweeted_status": {
                      "user": orig["user"], "text": orig["text"],
                      "hashtagEntities": orig["hashtagEntities"],
                      "hashtagEntitiesArray": orig["hashtagEntitiesArray"]}}
            n_rt += 1
        else:
            k = rng.randint(0, p["max_tags"])
            tags = []
            for _t in range(k):
                r = rng.random()
                if r < p["p_hot"]:
                    base = rng.choice(hot)
                elif r < p["p_hot"] + p["p_pool"]:
                    base = rng.choice(pools[community[uid]])
                else:
                    base = tail[int(len(tail) * rng.random() ** 2)]
                tags.append(_spell(rng, base))
            he, hea = _entities(rng, tags)
            tw = {"user": {"id": uid}, "text": _text(rng, tags),
                  "hashtagEntities": he, "hashtagEntitiesArray": hea,
                  "retweeted_status": None}
            originals.append(tw)
            by_comm.setdefault(community[uid], []).append(tw)
        lines.append(json.dumps(tw, ensure_ascii=False, separators=(",", ":")))
    data = ("\n".join(lines) + "\n").encode("utf-8")
    return data, _stats(lines, n_rt, ids[0])


def _stats(lines, n_rt, hub):
    """Corpus statistics, from the generator's own reading of the rules
    `HashtagGraph.userTags` applies (independent of the DuckDB oracle)."""
    user_rows = {}
    for line in lines:
        tw = json.loads(line)
        srcs = []
        if tw["hashtagEntities"] is not None:
            srcs.append((tw["user"]["id"], tw["hashtagEntitiesArray"]))
        rt = tw["retweeted_status"]
        if rt is not None and rt["hashtagEntities"] is not None:
            srcs.append((rt["user"]["id"], rt["hashtagEntitiesArray"]))
        for uid, arr in srcs:
            user_rows.setdefault(uid, set()).update(arr or [])
    tag_users = {}
    for uid, tags in user_rows.items():
        norm = {normalize_tag(t) for t in tags} or {""}
        for t in norm:
            tag_users[t] = tag_users.get(t, 0) + 1
    users = {json.loads(line)["user"]["id"] for line in lines}
    return {
        "tweets": len(lines),
        "retweets": n_rt,
        "users": len(users),
        "tagged_users": len(user_rows),
        "distinct_tags": len(tag_users),
        "candidate_pair_rows": sum(k * (k - 1) // 2 for k in tag_users.values()),
        "hottest_tag_users": max(tag_users.values()) if tag_users else 0,
        "hub_id": hub,
    }
