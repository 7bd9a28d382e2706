"""Seeded Hive-shaped op-stream generator.

Produces the block-op stream both sync workloads feed the engine:
comments (posts, edits, replies), votes, account updates and
custom_json ops, with timestamps that spread the history over months.

Invariants the store oracle relies on (they make the expected store
independent of the sync batch size):

* a vote targets a post created in an EARLIER block, or a ghost
  permlink no comment ever creates;
* an edit re-upserts a post created earlier in the same calendar
  month (so its partition never depends on which round holds it) and
  keeps the post's community;
* per block, at most one comment op per post and one account_update
  per account, and block timestamps strictly increase, so "latest op
  wins" never meets a tie.

The same stream is emitted two ways: JSON-lines files for
``sources.blocks.ops_from_json`` and ``condenser_api.get_ops_in_block``
responses for ``sources.rpc``.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

COMMUNITY = "hive-118554"
T0 = datetime(2024, 1, 1)
LIVE_BLOCK_SECONDS = 3  # chain block interval
# Fixed shape of the mix (shares are of all ops; custom_json takes the
# rest after votes, posts, replies and account updates).
POST_SHARE = 0.25
REPLY_SHARE = 0.12
ACCOUNT_SHARE = 0.08
EDIT_SHARE = 0.05  # of comment ops on posts: edits
RECENT_POSTS = 300  # size of the "newest posts" window recent votes pick from
COMMUNITY_SHARE = 0.2  # of new posts: in COMMUNITY
N_ACCOUNTS = 500
N_MUTED = 25
BLOCKS_PER_FILE = 100  # JSON-lines file size of land_json

_WORDS = (
    "hive photo street travel food nature macro city night portrait sky "
    "river forest market coffee art light shadow winter summer rain"
).split()


@dataclass(frozen=True)
class OpMix:
    """Knobs of the generated op mix (shares are of all ops)."""

    ops_per_block: int = 10
    vote_share: float = 0.45
    months: int = 12  # history span
    recent_vote_share: float = 0.8  # votes on the RECENT_POSTS newest posts
    ghost_vote_share: float = 0.05
    double_encoded_meta: float = 0.2
    invalid_meta: float = 0.1


@dataclass
class Block:
    num: int
    ts: datetime
    ops: list[tuple[str, dict]]

    @property
    def iso(self) -> str:
        return self.ts.strftime("%Y-%m-%dT%H:%M:%S")


@dataclass
class OpStream:
    mix: OpMix
    blocks: list[Block]
    muted: list[str]
    # (author, permlink, created block) of every top-level post, in
    # creation order
    posts: list[tuple[str, str, int]] = field(default_factory=list)

    def rows(self, lo: int = 0, hi: int | None = None) -> list[tuple[int, str, str, str]]:
        """(block_num, ts ISO, op_type, op JSON) rows of [lo, hi)."""
        return [
            (b.num, b.iso, t, json.dumps(p))
            for b in self.blocks[lo:hi]
            for t, p in b.ops
        ]

    def roles(self) -> list[tuple[str, str]]:
        """Community roles snapshot: the muted accounts plus members."""
        out = [(a, "muted") for a in self.muted]
        out += [(f"user{i}", "member") for i in range(0, N_ACCOUNTS, 7)]
        return out


def _metadata(rng: random.Random, mix: OpMix) -> str:
    meta = json.dumps(
        {
            "tags": rng.sample(_WORDS, 3),
            "image": [f"https://img.example/{rng.randrange(10_000)}.jpg"],
        }
    )
    r = rng.random()
    if r < mix.invalid_meta:
        return "{not json"
    if r < mix.invalid_meta + mix.double_encoded_meta:
        return json.dumps(meta)  # the reference's double-encoded shape
    return meta


def _body(rng: random.Random) -> str:
    words = " ".join(rng.choices(_WORDS, k=rng.randrange(8, 30)))
    return (
        f"## {rng.choice(_WORDS)}\n\n{words} #{rng.choice(_WORDS)}"
        f' <img src="https://img.example/b{rng.randrange(1000)}.png">\n'
        f"*{rng.choice(_WORDS)}* [link](https://example.com/{rng.randrange(100)})"
    )


def generate(seed: int, n_history: int, n_live: int = 0, mix: OpMix = OpMix()) -> OpStream:
    """Blocks [0, n_history) spread evenly over ``mix.months`` months;
    blocks [n_history, n_history + n_live) follow at the live chain
    interval. The same (seed, sizes, mix) always gives the same
    stream."""
    rng = random.Random(seed)
    accounts = [f"user{i}" for i in range(N_ACCOUNTS)]
    muted = sorted(rng.sample(accounts, N_MUTED))
    step = timedelta(seconds=int(30.44 * 86400 * mix.months / max(n_history, 1)))
    history_end = T0 + step * n_history
    posts: list[tuple[str, str, int]] = []
    community: dict[tuple[str, str], str] = {}
    month_start: dict[tuple[int, int], int] = {}  # (y, m) -> first post index
    n_replies = 0
    blocks: list[Block] = []
    for b in range(n_history + n_live):
        ts = T0 + step * b if b < n_history else history_end + timedelta(
            seconds=LIVE_BLOCK_SECONDS * (b - n_history + 1)
        )
        month_start.setdefault((ts.year, ts.month), len(posts))
        n_before = len(posts)  # posts from earlier blocks only
        touched: set[tuple[str, str]] = set()
        updated: set[str] = set()
        created: list[tuple[str, str, int]] = []
        ops: list[tuple[str, dict]] = []
        for _ in range(mix.ops_per_block):
            r = rng.random()
            if r < mix.vote_share:
                if n_before == 0 or rng.random() < mix.ghost_vote_share:
                    author = rng.choice(accounts)
                    permlink = f"ghost-{rng.randrange(1000)}"
                elif rng.random() < mix.recent_vote_share:
                    lo = max(0, n_before - RECENT_POSTS)
                    author, permlink, _ = posts[rng.randrange(lo, n_before)]
                else:
                    author, permlink, _ = posts[rng.randrange(n_before)]
                weight = rng.randrange(-3000, 10001)
                ops.append(
                    ("vote", {"voter": rng.choice(accounts), "author": author,
                              "permlink": permlink, "weight": weight})
                )
            elif r < mix.vote_share + POST_SHARE:
                first_in_month = month_start[(ts.year, ts.month)]
                edit = n_before > first_in_month and rng.random() < EDIT_SHARE
                if edit:
                    author, permlink, _ = posts[rng.randrange(first_in_month, n_before)]
                    if (author, permlink) in touched:
                        continue
                    parent = community[(author, permlink)]
                else:
                    author = rng.choice(accounts)
                    permlink = f"p{b}-{len(created)}"
                    parent = (
                        COMMUNITY if rng.random() < COMMUNITY_SHARE
                        else f"cat{rng.randrange(5)}"
                    )
                    community[(author, permlink)] = parent
                    created.append((author, permlink, b))
                touched.add((author, permlink))
                ops.append(
                    ("comment", {"author": author, "permlink": permlink,
                                 "parent_author": "", "parent_permlink": parent,
                                 "title": " ".join(rng.sample(_WORDS, 4)),
                                 "body": _body(rng), "json_metadata": _metadata(rng, mix)})
                )
            elif r < mix.vote_share + POST_SHARE + REPLY_SHARE:
                if n_before == 0:
                    continue
                p_author, p_permlink, _ = posts[rng.randrange(n_before)]
                n_replies += 1
                ops.append(
                    ("comment", {"author": rng.choice(accounts), "permlink": f"re-{n_replies}",
                                 "parent_author": p_author, "parent_permlink": p_permlink,
                                 "title": "", "body": _body(rng), "json_metadata": "{}"})
                )
            elif r < mix.vote_share + POST_SHARE + REPLY_SHARE + ACCOUNT_SHARE:
                account = rng.choice(accounts)
                if account in updated:
                    continue
                updated.add(account)
                meta = json.dumps({"profile": {"name": f"Name {rng.randrange(1000)}",
                                               "about": " ".join(rng.sample(_WORDS, 3))}})
                if rng.random() < mix.double_encoded_meta:
                    meta = json.dumps(meta)
                ops.append(("account_update", {"account": account, "json_metadata": meta}))
            else:
                ops.append(("custom_json", {"cid": "follow", "json": "[]"}))
        if not ops:  # keep every block non-empty
            ops.append(("custom_json", {"cid": "follow", "json": "[]"}))
        posts.extend(created)
        blocks.append(Block(b, ts, ops))
    return OpStream(mix, blocks, muted, posts)


def land_json(stream: OpStream, out_dir: str, lo: int, hi: int) -> int:
    """Write blocks [lo, hi) as JSON-lines files (the shape an RPC
    fetch step lands for ``ops_from_json``). Returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for start in range(lo, hi, BLOCKS_PER_FILE):
        path = os.path.join(out_dir, f"blocks-{start:08d}.json")
        with open(path, "w", encoding="utf-8") as f:
            for b, ts, t, op in stream.rows(start, min(start + BLOCKS_PER_FILE, hi)):
                f.write(json.dumps({"block_num": b, "ts": ts, "op_type": t, "op": op}) + "\n")
        total += os.path.getsize(path)
    return total


def rpc_results(stream: OpStream) -> dict[int, list[dict]]:
    """Pre-built ``get_ops_in_block`` results keyed by block number."""
    return {
        b.num: [
            {"trx_id": f"{b.num:08x}{i:04x}", "block": b.num, "trx_in_block": i,
             "op": [t, p], "timestamp": b.iso}
            for i, (t, p) in enumerate(b.ops)
        ]
        for b in stream.blocks
    }


class BlockTransport:
    """In-process JSON-RPC transport serving pre-generated
    ``get_ops_in_block`` responses; plugs into ``NodePool.fetch``."""

    def __init__(self, results: dict[int, list[dict]]):
        self.results = results

    def __call__(self, node: str, payload: list[dict]) -> list[dict]:
        return [
            {"jsonrpc": "2.0", "id": req["id"], "result": self.results[req["params"][0]]}
            for req in payload
        ]
