"""Catalog-level versioned source (the reference's Nessie dataplane).

Reference behavior being re-expressed (spec, not code):
  - `plugins/dataplane/src/main/java/com/dremio/plugins/dataplane/store/
    DataplanePlugin.java` — a *versioned source*: every table/view in the
    source resolves through one commit tree; `AT BRANCH/TAG/COMMIT`
    applies to any ref in the source; writes on a branch are invisible
    elsewhere until merged.
  - `services/nessie/` — the commit model: a commit is (parent, {content
    key -> content}) puts/deletes; named references (branches, tags) are
    pointers to commits advanced by compare-and-swap.
  - grammar `sabot/grammar/.../parserImpls.ftl:943` — CREATE/DROP/MERGE
    BRANCH ... IN <source>, ALTER BRANCH ASSIGN, AT BRANCH on table refs,
    USE BRANCH session context.

Spark-first design: the catalog is METADATA-ONLY — a DAG of tiny JSON
commit files plus one refs map.  Table bytes live once, in Iceberg tables
whose snapshots are committed DETACHED (`iceberg.write_iceberg
parent_snapshot=...`): no table-level ref ever advances, the catalog
commit records `(location, snapshot_id)` and IS the authority — exactly
Nessie's contract, where the metadata location registered in the commit
wins over whatever the table's own metadata claims.  Reads resolve
key -> (location, snapshot_id) and plan through the same
`plan_iceberg_scan` as unversioned tables, so manifest pruning and the
distributed-metadata planner apply unchanged; a branch read over 100 TB
costs one extra KB-sized JSON chain walk at plan time, nothing at scan
time.

Scale notes (how this maps to a real deployment):
  - Commit-chain walks are bounded: every `_CHECKPOINT_EVERY`-th commit
    embeds the full key->content state (Nessie's spilled key-list), so
    `state_at` reads O(16) small files regardless of history length.
  - Ref advance is compare-and-swap shaped: the commit file is claimed
    with O_CREAT|O_EXCL (same idiom as the Iceberg/Delta committers in
    this repo) and the refs map is re-validated under a process lock
    before the atomic replace — on a shared store this maps 1:1 to
    Nessie's CAS on the reference head; a lost race raises
    ConcurrentWriteError and the caller re-plans, never overwrites.
  - MERGE is squash-merge with per-key conflict detection (Nessie
    default): keys changed on both sides since the merge base with
    different resulting content reject the whole merge atomically —
    either every table advances or none does.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from .iceberg import ConcurrentWriteError

_DIRNAME = "_nessie"
_CHECKPOINT_EVERY = 16

# in-process serialization of ref advances per source root; cross-process
# safety comes from the O_EXCL commit-file claim (see module docstring)
_LOCKS: dict[str, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()


def _lock(root: str) -> threading.Lock:
    key = os.path.realpath(root)
    with _LOCKS_GUARD:
        return _LOCKS.setdefault(key, threading.Lock())


def _nessie_dir(root: str) -> str:
    return os.path.join(root, _DIRNAME)


def _refs_path(root: str) -> str:
    return os.path.join(_nessie_dir(root), "refs.json")


def _commits_dir(root: str) -> str:
    return os.path.join(_nessie_dir(root), "commits")


def init_source(root: str) -> None:
    """Idempotently initialize the commit store: a `main` branch at the
    empty root (no commits yet — head is None, state is {})."""
    os.makedirs(_commits_dir(root), exist_ok=True)
    if not os.path.exists(_refs_path(root)):
        _store_refs(root, {"branches": {"main": None}, "tags": {}})


def _load_refs(root: str) -> dict:
    with open(_refs_path(root)) as f:
        return json.load(f)


def _store_refs(root: str, refs: dict) -> None:
    # atomic pointer move: full write to a temp then rename — readers
    # never observe a torn refs map (same idiom as version-hint moves)
    tmp = _refs_path(root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(refs, f)
    os.replace(tmp, _refs_path(root))


def _read_commit(root: str, cid: str) -> dict:
    with open(os.path.join(_commits_dir(root), cid + ".json")) as f:
        return json.load(f)


def resolve_ref(root: str, ref: str | None = None,
                commit_id: str | None = None) -> str | None:
    """Named ref (branch/tag) or explicit commit id -> commit id.
    None ref means `main`.  Returns None for an empty branch."""
    if commit_id is not None:
        if not os.path.exists(
                os.path.join(_commits_dir(root), commit_id + ".json")):
            raise ValueError(f"no commit {commit_id!r} in {root}")
        return commit_id
    refs = _load_refs(root)
    name = ref or "main"
    if name in refs["branches"]:
        return refs["branches"][name]
    if name in refs["tags"]:
        return refs["tags"][name]
    raise ValueError(f"no branch or tag {name!r} in {root}")


def state_at(root: str, ref: str | None = None,
             commit_id: str | None = None) -> dict[str, dict]:
    """Effective key -> content map at a ref: fold `operations` along
    the first-parent chain, stopping at the nearest checkpointed
    commit (embedded full state) — O(_CHECKPOINT_EVERY) reads."""
    cid = resolve_ref(root, ref, commit_id)
    pending: list[dict] = []
    state: dict[str, dict] = {}
    while cid is not None:
        c = _read_commit(root, cid)
        pending.append(c["operations"])
        if "full_state" in c:
            state = dict(c["full_state"])
            break
        cid = c["parents"][0] if c["parents"] else None
    for ops in reversed(pending):
        for key, content in ops.items():
            if content is None:
                state.pop(key, None)
            else:
                state[key] = content
    return state


def resolve_at_timestamp(root: str, ts_ms: int,
                         ref: str | None = None,
                         commit_id: str | None = None) -> str | None:
    """The newest commit on `ref`'s first-parent chain at or before
    `ts_ms` (Nessie's timestamp-resolved reference: `AT TIMESTAMP` on a
    versioned source).  None when the branch has no commit that old.
    `ref`/`commit_id` pick the chain to walk — the caller's session
    context (USE BRANCH) resolves against ITS branch, not always main."""
    cid = resolve_ref(root, ref, commit_id)
    while cid is not None:
        c = _read_commit(root, cid)
        if c["ts_ms"] <= ts_ms:
            return cid
        cid = c["parents"][0] if c["parents"] else None
    return None


def log(root: str, ref: str | None = None,
        commit_id: str | None = None) -> list[dict]:
    """Commit log, newest first, along the first-parent chain (squash
    merges fold the source's changes into one commit, so first-parent
    is the branch's complete history)."""
    cid = resolve_ref(root, ref, commit_id)
    out: list[dict] = []
    while cid is not None:
        c = _read_commit(root, cid)
        out.append(c)
        cid = c["parents"][0] if c["parents"] else None
    return out


def _chain_len_since_checkpoint(root: str, cid: str | None) -> int:
    n = 0
    while cid is not None:
        c = _read_commit(root, cid)
        if "full_state" in c:
            break
        n += 1
        cid = c["parents"][0] if c["parents"] else None
    return n


def commit(root: str, branch: str, operations: dict[str, dict | None],
           message: str, author: str = "$dremio$",
           merge_parent: str | None = None,
           expect_head: str | None | object = ...) -> str:
    """Append one commit to `branch` and advance its head.

    `operations`: key -> content (put) or None (delete).
    `expect_head`: optimistic-concurrency guard — the head the caller
    planned against; a mismatch at commit time raises
    ConcurrentWriteError (Nessie's CAS-failed), never overwrites."""
    with _lock(root):
        refs = _load_refs(root)
        if branch not in refs["branches"]:
            raise ValueError(f"no branch {branch!r} in {root}; "
                             "CREATE BRANCH first")
        head = refs["branches"][branch]
        if expect_head is not ... and expect_head != head:
            raise ConcurrentWriteError(
                f"branch {branch!r} of {root} advanced concurrently "
                f"(expected {expect_head}, found {head}); re-plan "
                "against the new head and retry")
        # next commit sequence rides the refs map (one read, no
        # directory listing — a million-commit store pays O(1) here);
        # pre-counter stores fall back to one listdir then persist
        seq = refs.get("seq")
        if seq is None:
            seq = max(
                (int(fn[:-5].split("-")[0][1:]) for fn in
                 os.listdir(_commits_dir(root)) if fn.endswith(".json")),
                default=0)
        seq += 1
        refs["seq"] = seq
        # DETERMINISTIC id: the commit file name is derived solely from
        # the sequence the writer planned against, so two processes that
        # raced past the same refs snapshot claim the SAME file and the
        # O_EXCL below hands exactly one of them the commit (the Iceberg
        # committer idiom); a random suffix would let both "win" and the
        # refs.json os.replace would silently drop one head advance.
        cid = f"c{seq:06d}"
        rec = {
            "id": cid,
            "parents": [head] if head else [],
            "branch": branch,
            "ts_ms": int(time.time() * 1000),
            "author": author,
            "message": message,
            "operations": operations,
        }
        if merge_parent:
            rec["merge_parent"] = merge_parent
        if _chain_len_since_checkpoint(root, head) + 1 >= _CHECKPOINT_EVERY:
            # key-list checkpoint (Nessie's spilled key list): bounds
            # every future state_at walk
            base = state_at(root, commit_id=head) if head else {}
            for key, content in operations.items():
                if content is None:
                    base.pop(key, None)
                else:
                    base[key] = content
            rec["full_state"] = base
        # O_EXCL claim — the commit file is the uniqueness token; a
        # cross-process loser hits FileExistsError here and surfaces the
        # same ConcurrentWriteError as an in-process CAS mismatch
        path = os.path.join(_commits_dir(root), cid + ".json")
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"commit {cid} of {root} was claimed by another "
                "process; re-plan against the new head and retry"
            ) from None
        with os.fdopen(fd, "w") as f:
            json.dump(rec, f)
        refs["branches"][branch] = cid
        _store_refs(root, refs)
        return cid


# -- reference (branch / tag) DDL -------------------------------------------

def create_ref(root: str, name: str, kind: str = "branch",
               from_ref: str | None = None,
               at_commit: str | None = None) -> str | None:
    """CREATE BRANCH/TAG <name> IN <source> [AT BRANCH/TAG/COMMIT ...]
    (parserImpls.ftl:943).  New refs point at the head of `from_ref`
    (default main) or an explicit commit."""
    head = resolve_ref(root, from_ref, at_commit)
    with _lock(root):  # check-and-set under ONE lock scope
        refs = _load_refs(root)
        if name in refs["branches"] or name in refs["tags"]:
            raise ValueError(f"ref {name!r} already exists in {root}")
        refs["branches" if kind == "branch" else "tags"][name] = head
        _store_refs(root, refs)
    return head


def drop_ref(root: str, name: str,
             expect_head: str | None | object = ...) -> str | None:
    """Delete a branch/tag.  `expect_head` is the optimistic guard the
    Nessie v2 DELETE carries in its `name@hash` path element — a stale
    hash raises ConcurrentWriteError (Nessie's REFERENCE_CONFLICT)
    instead of deleting a ref someone else just advanced.  Returns the
    head the ref pointed at when deleted."""
    if name == "main":
        raise ValueError("cannot drop main")
    with _lock(root):
        refs = _load_refs(root)
        kind = ("branches" if name in refs["branches"]
                else "tags" if name in refs["tags"] else None)
        if kind is None:
            raise ValueError(f"no branch or tag {name!r} in {root}")
        head = refs[kind][name]
        if expect_head is not ... and expect_head != head:
            raise ConcurrentWriteError(
                f"ref {name!r} of {root} advanced concurrently "
                f"(expected {expect_head}, found {head})")
        del refs[kind][name]
        _store_refs(root, refs)
    return head


def assign_ref(root: str, name: str, to_ref: str | None = None,
               to_commit: str | None = None,
               expect_head: str | None | object = ...) -> str | None:
    """ALTER BRANCH/TAG <name> ASSIGN ... — repoint an existing ref.
    `expect_head` guards like drop_ref (Nessie v2 PUT /trees/{name@hash}
    assign semantics)."""
    head = resolve_ref(root, to_ref, to_commit)
    with _lock(root):
        refs = _load_refs(root)
        kind = ("branches" if name in refs["branches"]
                else "tags" if name in refs["tags"] else None)
        if kind is None:
            raise ValueError(f"no branch or tag {name!r} in {root}")
        if expect_head is not ... and expect_head != refs[kind][name]:
            raise ConcurrentWriteError(
                f"ref {name!r} of {root} advanced concurrently "
                f"(expected {expect_head}, found {refs[kind][name]})")
        refs[kind][name] = head
        _store_refs(root, refs)
    return head


# -- merge -------------------------------------------------------------------

def _ancestors(root: str, cid: str | None) -> dict[str, int]:
    """All ancestors (both parents of merges) with BFS depth."""
    seen: dict[str, int] = {}
    frontier = [(cid, 0)] if cid else []
    while frontier:
        nxt: list[tuple[str, int]] = []
        for c, d in frontier:
            if c is None or c in seen:
                continue
            seen[c] = d
            rec = _read_commit(root, c)
            for p in rec["parents"]:
                nxt.append((p, d + 1))
            if rec.get("merge_parent"):
                nxt.append((rec["merge_parent"], d + 1))
        frontier = nxt
    return seen


def _merge_base(root: str, a: str | None, b: str | None) -> str | None:
    """Nearest common ancestor (including merge_parent edges, so a
    re-merge after an earlier MERGE BRANCH bases at the prior merge
    point, not the original fork)."""
    if a is None or b is None:
        return None
    anc_a, anc_b = _ancestors(root, a), _ancestors(root, b)
    common = set(anc_a) & set(anc_b)
    # the NEAREST common ancestor: minimal combined depth — after an
    # earlier merge, the merge point (reachable cheaply from both) wins
    # over the original fork point (deeper on the source side)
    return (min(common, key=lambda c: (anc_a[c] + anc_b[c], c))
            if common else None)


def merge_branch(root: str, source: str, target: str = "main",
                 author: str = "$dremio$") -> dict:
    """MERGE BRANCH <source> INTO <target> IN <src> — atomic squash
    merge with per-key three-way conflict detection (the Nessie
    default): a key changed on BOTH sides since the merge base with
    different resulting content rejects the WHOLE merge; otherwise one
    commit advances the target with every source change at once."""
    refs = _load_refs(root)
    if source not in refs["branches"]:
        raise ValueError(f"no branch {source!r} in {root}")
    if target not in refs["branches"]:
        raise ValueError(f"no branch {target!r} in {root}")
    src_head = refs["branches"][source]
    tgt_head = refs["branches"][target]
    base = _merge_base(root, src_head, tgt_head)
    base_state = state_at(root, commit_id=base) if base else {}
    src_state = state_at(root, commit_id=src_head) if src_head else {}
    tgt_state = state_at(root, commit_id=tgt_head) if tgt_head else {}

    def _changes(state: dict) -> dict[str, dict | None]:
        out: dict[str, dict | None] = {}
        for k in set(state) | set(base_state):
            if state.get(k) != base_state.get(k):
                out[k] = state.get(k)
        return out

    src_changes = _changes(src_state)
    tgt_changes = _changes(tgt_state)
    conflicts = sorted(
        k for k in set(src_changes) & set(tgt_changes)
        if src_changes[k] != tgt_changes[k])
    if conflicts:
        raise ValueError(
            f"MERGE BRANCH {source} INTO {target}: conflict on "
            f"{', '.join(conflicts)} — both branches changed these keys "
            "since the merge base (Nessie VALUE_DIFFERS); nothing merged")
    # drop changes the target already has (idempotent re-merge)
    effective = {k: v for k, v in src_changes.items()
                 if tgt_state.get(k) != v
                 or (v is None and k in tgt_state)}
    if not effective:
        return {"commit": tgt_head, "merged_keys": [], "noop": True}
    cid = commit(root, target, effective,
                 f"merge {source} into {target}", author=author,
                 merge_parent=src_head, expect_head=tgt_head)
    return {"commit": cid, "merged_keys": sorted(effective), "noop": False}


# -- table / view content operations ----------------------------------------

def _new_location(root: str, key: str) -> str:
    """A fresh physical dir for a table key.  Suffixed so the same key
    created independently on two branches never collides on disk (the
    catalog commit, not the path, binds key -> location — Nessie's
    content-id model)."""
    rel = os.path.join("tables", key.replace(".", "_")
                       + "_" + uuid.uuid4().hex[:8])
    os.makedirs(os.path.join(root, rel), exist_ok=False)
    return rel


def _table_content(root: str, branch_or_ref: str, key: str,
                   commit_id: str | None = None) -> dict:
    st = state_at(root, branch_or_ref, commit_id=commit_id)
    content = st.get(key)
    if content is None:
        raise ValueError(
            f"no table or view {key!r} at "
            f"{commit_id or branch_or_ref or 'main'} in {root}")
    return content


def ctas(spark: SparkSession, root: str, branch: str, key: str,
         df: DataFrame, author: str = "$dremio$",
         partition_by: list[str] | None = None) -> str:
    """CREATE TABLE <source>.<key> AT BRANCH <branch> AS ... — stage an
    Iceberg table with a DETACHED first snapshot and register it in one
    catalog commit."""
    from .iceberg import write_iceberg

    st = state_at(root, branch)
    if key in st:
        raise ValueError(f"{key!r} already exists on branch {branch!r}")
    head = _load_refs(root)["branches"][branch]
    rel = _new_location(root, key)
    loc = os.path.join(root, rel)
    sid = write_iceberg(spark, df, loc, partition_by=partition_by,
                        parent_snapshot=0)
    content = {"type": "ICEBERG_TABLE", "location": rel,
               "snapshot_id": sid}
    return commit(root, branch, {key: content}, f"create table {key}",
                  author=author, expect_head=head)


def insert_into(spark: SparkSession, root: str, branch: str, key: str,
                df: DataFrame, author: str = "$dremio$") -> str:
    """INSERT INTO <source>.<key> AT BRANCH <branch> — append a detached
    snapshot on top of the branch's current snapshot and advance the
    catalog pointer (the table's own refs never move)."""
    from .iceberg import write_iceberg

    head = _load_refs(root)["branches"][branch]
    content = dict(_table_content(root, branch, key))
    if content["type"] != "ICEBERG_TABLE":
        raise ValueError(f"{key!r} is a view; INSERT needs a table")
    loc = os.path.join(root, content["location"])
    sid = write_iceberg(spark, df, loc, mode="append",
                        parent_snapshot=content["snapshot_id"])
    content["snapshot_id"] = sid
    return commit(root, branch, {key: content}, f"insert into {key}",
                  author=author, expect_head=head)


def drop_table(root: str, branch: str, key: str,
               author: str = "$dremio$") -> str:
    """DROP TABLE/VIEW on a branch: a delete operation in the commit
    tree.  Data files stay (other refs may still reach the snapshot);
    a catalog GC reclaims unreachable locations, as in Nessie."""
    head = _load_refs(root)["branches"][branch]
    _table_content(root, branch, key)  # existence check
    return commit(root, branch, {key: None}, f"drop {key}",
                  author=author, expect_head=head)


def create_view(root: str, branch: str, key: str, sql: str,
                author: str = "$dremio$") -> str:
    """CREATE VIEW <source>.<key> AT BRANCH <branch> AS <sql> — a
    versioned view: the SQL text is the content; readers expand it at
    THEIR ref, so a view read AT BRANCH dev sees dev's tables
    (DataplanePlugin versioned views / Nessie IcebergView content)."""
    head = _load_refs(root)["branches"][branch]
    content = {"type": "ICEBERG_VIEW", "sql": sql}
    return commit(root, branch, {key: content}, f"create view {key}",
                  author=author, expect_head=head)


def read_table(spark: SparkSession, root: str, key: str,
               ref: str | None = None, commit_id: str | None = None,
               equality: dict | None = None
               ) -> tuple[DataFrame, dict]:
    """Resolve key at ref -> (pruned DataFrame, content).  Planning goes
    through plan_iceberg_scan so manifest pruning and the distributed
    metadata path apply exactly as for unversioned tables."""
    from .iceberg import plan_iceberg_scan

    content = _table_content(root, ref or "main", key,
                             commit_id=commit_id)
    if content["type"] != "ICEBERG_TABLE":
        raise ValueError(f"{key!r} is a view at this ref")
    loc = os.path.join(root, content["location"])
    df, _, _ = plan_iceberg_scan(spark, loc, equality or {},
                                 snapshot_id=content["snapshot_id"])
    return df, content


def delete_where(spark: SparkSession, root: str, branch: str, key: str,
                 predicate: str, author: str = "$dremio$") -> str:
    """DELETE FROM <source>.<key> AT BRANCH <branch> WHERE <pred> —
    copy-on-write against the BRANCH's snapshot, committed detached;
    hit-file pruning matches the unversioned COW path."""
    from . import lake_dml
    from .iceberg import DML

    head = _load_refs(root)["branches"][branch]
    content = dict(_table_content(root, branch, key))
    loc = os.path.join(root, content["location"])
    sid = lake_dml.delete(DML, spark, loc, predicate,
                          parent_snapshot=content["snapshot_id"])
    if sid == content["snapshot_id"]:  # no rows hit: no commit
        return head
    content["snapshot_id"] = sid
    return commit(root, branch, {key: content},
                  f"delete from {key} where {predicate}",
                  author=author, expect_head=head)


def merge_into(spark: SparkSession, root: str, branch: str, key: str,
               source: DataFrame, on: list[str],
               update_set: dict[str, str] | None = None,
               insert_not_matched: bool = True,
               update_matched: bool = True,
               author: str = "$dremio$") -> str:
    """MERGE INTO <source>.<key> AT BRANCH <branch> USING ... —
    copy-on-write against the branch snapshot, detached commit (same
    hit-file pruning and unhinted AQE-costed source join as the
    unversioned MERGE)."""
    from .iceberg import merge_into_iceberg

    head = _load_refs(root)["branches"][branch]
    content = dict(_table_content(root, branch, key))
    loc = os.path.join(root, content["location"])
    sid = merge_into_iceberg(
        spark, loc, source, on, update_set=update_set,
        insert_not_matched=insert_not_matched,
        update_matched=update_matched,
        parent_snapshot=content["snapshot_id"])
    if sid == content["snapshot_id"]:  # nothing matched or inserted
        return head
    content["snapshot_id"] = sid
    return commit(root, branch, {key: content}, f"merge into {key}",
                  author=author, expect_head=head)


def alter_table(root: str, branch: str, key: str,
                add: dict[str, str] | None = None,
                drop: list[str] | None = None,
                author: str = "$dremio$") -> str:
    """ALTER TABLE <source>.<key> AT BRANCH <branch> ADD COLUMNS/DROP
    COLUMN — branch-scoped schema evolution: the new schema rides a
    detached snapshot pinned to the branch's catalog pointer; every
    other ref keeps its schema (per-snapshot schema-id resolution,
    `iceberg.alter_iceberg` with a parent snapshot)."""
    from .iceberg import alter_iceberg

    head = _load_refs(root)["branches"][branch]
    content = dict(_table_content(root, branch, key))
    loc = os.path.join(root, content["location"])
    sid = alter_iceberg(loc, add=add, drop=drop,
                        parent_snapshot=content["snapshot_id"])
    content["snapshot_id"] = sid
    return commit(root, branch, {key: content}, f"alter {key}",
                  author=author, expect_head=head)


def merge_dry_run(root: str, source: str, target: str = "main") -> dict:
    """MERGE BRANCH ... DRY RUN (Nessie's dry-run merge check): report
    what WOULD merge — changed keys and per-key conflicts — without
    committing anything."""
    refs = _load_refs(root)
    for b in (source, target):
        if b not in refs["branches"]:
            raise ValueError(f"no branch {b!r} in {root}")
    src_head, tgt_head = refs["branches"][source], refs["branches"][target]
    base = _merge_base(root, src_head, tgt_head)
    base_state = state_at(root, commit_id=base) if base else {}
    src_state = state_at(root, commit_id=src_head) if src_head else {}
    tgt_state = state_at(root, commit_id=tgt_head) if tgt_head else {}

    def _changes(state: dict) -> dict:
        return {k: state.get(k) for k in set(state) | set(base_state)
                if state.get(k) != base_state.get(k)}

    src_c, tgt_c = _changes(src_state), _changes(tgt_state)
    conflicts = sorted(k for k in set(src_c) & set(tgt_c)
                       if src_c[k] != tgt_c[k])
    mergeable = sorted(k for k in src_c if k not in conflicts
                       and tgt_state.get(k) != src_c[k])
    return {"mergeable_keys": mergeable, "conflicts": conflicts,
            "would_succeed": not conflicts}


def gc_unreachable(root: str, grace_ms: int = 0) -> list[str]:
    """Catalog GC (the Nessie GC role): delete table directories
    referenced ONLY by commits that are no longer reachable from any
    branch or tag — e.g. the CTAS of a branch that was later DROPped
    without merging.  Reachability is the ancestry walk of every ref
    head (parents + merge parents), so `AT COMMIT` time travel over
    live history keeps working; unreachable commit files are removed
    with their data.  Metadata-sized: walks KB JSON, then one rmtree
    per dead location.  Returns the deleted relative paths.

    The WHOLE body holds the catalog lock: a commit landing between the
    refs read and the sweep would be invisible to the reachability set
    and GC would delete the just-created commit file out from under its
    branch head (driver-found r9), so VACUUM serializes with commits —
    exactly Nessie's GC-vs-commit exclusion.

    `grace_ms` is the Nessie-GC cutoff policy: artifacts YOUNGER than
    the grace window never delete, protecting in-flight writes — the
    lock covers commit() but not the long Spark write BEFORE it, so a
    table dir created by a CTAS whose catalog commit has not landed yet
    is "unreachable" only because it is mid-flight.  Production sets
    this above the longest write (the reference's default cutoff is
    hours); 0 keeps the eager test-scale behavior."""
    import shutil

    now_ms = int(time.time() * 1000)
    with _lock(root):
        refs = _load_refs(root)
        heads = [c for c in list(refs["branches"].values())
                 + list(refs["tags"].values()) if c]
        reachable: set[str] = set()
        for h in heads:
            reachable |= set(_ancestors(root, h))
        live: set[str] = set()
        dead_commits: list[str] = []
        for fn in sorted(os.listdir(_commits_dir(root))):
            if not fn.endswith(".json"):
                continue
            cid = fn[:-5]
            c = _read_commit(root, cid)
            contents = (list(c["operations"].values())
                        + list(c.get("full_state", {}).values()))
            if cid in reachable:
                for content in contents:
                    if content and content.get("location"):
                        live.add(content["location"])
            elif now_ms - c.get("ts_ms", 0) >= grace_ms:
                dead_commits.append(cid)
            else:
                # young unreachable commit (e.g. a ref being reassigned
                # concurrently): within grace, keep its locations live
                for content in contents:
                    if content and content.get("location"):
                        live.add(content["location"])
        removed: list[str] = []
        tables_dir = os.path.join(root, "tables")
        if os.path.isdir(tables_dir):
            for d in sorted(os.listdir(tables_dir)):
                rel = os.path.join("tables", d)
                if rel not in live:
                    if (grace_ms and now_ms - os.path.getmtime(
                            os.path.join(root, rel)) * 1000 < grace_ms):
                        continue  # mid-flight write: commit pending
                    shutil.rmtree(os.path.join(root, rel),
                                  ignore_errors=True)
                    removed.append(rel)
        for cid in dead_commits:
            os.unlink(os.path.join(_commits_dir(root), cid + ".json"))
        return removed


def update_where(spark: SparkSession, root: str, branch: str, key: str,
                 assignments: dict[str, str], predicate: str | None,
                 author: str = "$dremio$") -> str:
    """UPDATE <source>.<key> AT BRANCH <branch> SET ... WHERE ... —
    copy-on-write against the branch snapshot, detached commit."""
    from . import lake_dml
    from .iceberg import DML

    head = _load_refs(root)["branches"][branch]
    content = dict(_table_content(root, branch, key))
    loc = os.path.join(root, content["location"])
    sid = lake_dml.update(DML, spark, loc, assignments,
                          predicate or "true",
                          parent_snapshot=content["snapshot_id"])
    if sid == content["snapshot_id"]:
        return head
    content["snapshot_id"] = sid
    return commit(root, branch, {key: content}, f"update {key}",
                  author=author, expect_head=head)


def optimize_table(spark: SparkSession, root: str, branch: str, key: str,
                   options: dict | None = None,
                   author: str = "$dremio$") -> tuple[str, int, int]:
    """OPTIMIZE TABLE <source>.<key> AT BRANCH <branch> — bin-pack the
    BRANCH snapshot's data files into a DETACHED Iceberg snapshot, then
    advance only this branch's catalog pointer via a commit (the
    reference supports OPTIMIZE on versioned tables,
    `OptimizeHandler.java:129`): same rows, fewer files, and every
    other ref's snapshot id is untouched — their file sets stay live
    because expiry is a separate VACUUM decision, never a side effect
    of maintenance on one branch.  Returns (commit_id, files_before,
    files_after)."""
    from .iceberg import optimize_iceberg, resolve_snapshot

    refs = _load_refs(root)
    if branch not in refs["branches"]:
        raise ValueError(f"no branch {branch!r} in {root}")
    head = refs["branches"][branch]
    content = dict(_table_content(root, branch, key))
    if content.get("type") != "ICEBERG_TABLE":
        raise ValueError(f"{key!r} is a view; OPTIMIZE needs a table")
    loc = os.path.join(root, content["location"])
    before = len(resolve_snapshot(loc, content["snapshot_id"]).files)
    sid = optimize_iceberg(spark, loc, options=options,
                           parent_snapshot=content["snapshot_id"])
    if sid == content["snapshot_id"]:
        return head, before, before  # below thresholds: commit-free
    after = len(resolve_snapshot(loc, sid).files)
    content["snapshot_id"] = sid
    cid = commit(root, branch, {key: content}, f"optimize {key}",
                 author=author, expect_head=head)
    return cid, before, after


def vacuum_table(root: str, key: str,
                 grace_ms: int = 0) -> list[str]:
    """VACUUM TABLE on a versioned table: expire underlying Iceberg
    snapshots referenced by NO catalog commit — reachable-history
    snapshots all survive (every branch, tag, and AT COMMIT point keeps
    resolving), so only snapshots orphaned by GC'd commits or never
    referenced (superseded detached rewrites) delete.  Holds the
    catalog lock: serializes with commits exactly like gc_unreachable.
    Returns deleted table-relative file paths."""
    from .iceberg import expire_iceberg_snapshots

    with _lock(root):
        keep: set[int] = set()
        location: str | None = None
        for fn in sorted(os.listdir(_commits_dir(root))):
            if not fn.endswith(".json"):
                continue
            c = _read_commit(root, fn[:-5])
            entries = (list(c["operations"].items())
                       + list(c.get("full_state", {}).items()))
            for k, content in entries:
                if k == key and content and content.get("snapshot_id"):
                    keep.add(content["snapshot_id"])
                    location = content["location"]
        if location is None:
            raise ValueError(f"no table {key!r} in {root}")
        # grace window (Nessie GC cutoff): a DETACHED snapshot written
        # by an in-flight DML whose catalog commit has not landed yet
        # is unreferenced only because it is mid-write — snapshots
        # younger than the grace never expire
        older_than = (int(time.time() * 1000) - grace_ms
                      if grace_ms else None)
        return expire_iceberg_snapshots(
            os.path.join(root, location), keep_ids=keep,
            older_than_ms=older_than)
