"""The manifest log every state store of the engine commits through.

A store root holds ``_manifest/v{seq}.json``, one file per publish, and
numbered version dirs under the dirs its manifests name. A publish is
ONE tmp-write plus ``os.replace``, so a reader sees a whole manifest or
the one before it, never a torn commit; nothing a writer puts in an
unnamed version dir is visible until a manifest names it. The CDC
engine (``streaming.Manifest``) and the dedup stores
(``stateful.StoreLog``) subclass it; they differ in what a manifest
holds and which version dirs it names (``_names``). A dedup store also
owns its reads and its one write path, which folds the store's deltas
in the same publish once they reach Spark's listing threshold.
"""

from __future__ import annotations

import json
import os
import shutil


def older_state(root: str, names: tuple[str, ...] | None = None) -> list[str]:
    """What ``root`` holds from before the manifest: its entries (only
    those in ``names``, if given) when it has no ``_manifest/``. A log
    makes ``_manifest/`` before anything else, so data without it was
    written by an older layout. Reads only; creates nothing."""
    if not os.path.isdir(root) or os.path.isdir(os.path.join(root, "_manifest")):
        return []
    return sorted(n for n in os.listdir(root) if names is None or n in names)


class ManifestLog:
    """One store root's commit log: seq numbering, the newest manifest,
    the publish and the retention. ``seq`` counts publishes, whatever
    Spark's batch ids do, so a fresh checkpoint never reuses a name.

    Retention's one rule: keep the newest manifest, the one before it
    and the newest's ``pre`` (the seq a replay builds on; -1 = none),
    and under every dir they name, the version dirs they name."""

    prefix = "v"  # a version dir's name is prefix + its number

    def __init__(self, root: str, empty: dict):
        self.dir = os.path.join(root, "_manifest")
        os.makedirs(self.dir, exist_ok=True)
        # what a reader sees before the first publish
        self.empty = {"seq": -1, "pre": -1, **empty}
        self.refresh()

    def refresh(self) -> dict:
        """Build the next publish on the newest manifest; returns it."""
        self.base = self.latest()  # the manifest the next publish builds on
        self.seq = self.base["seq"] + 1  # the next publish's seq
        return self.base

    def _seqs(self) -> list[int]:
        return sorted(
            int(n[1:-5])
            for n in os.listdir(self.dir)
            if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()
        )

    def _load(self, seq: int) -> dict:
        if seq < 0:
            return self.empty
        with open(os.path.join(self.dir, f"v{seq}.json")) as f:
            return json.load(f)

    def latest(self) -> dict:
        seqs = self._seqs()
        return self._load(seqs[-1] if seqs else -1)

    def _names(self, m: dict, newest: bool) -> dict[str, list]:
        """Parent dir -> the version numbers manifest ``m`` keeps there
        while it is retained (``newest``: it is the newest one)."""
        raise NotImplementedError

    def publish(self, m: dict) -> None:
        """Publish ``m`` as manifest ``seq``, then apply retention: drop
        the manifests it no longer keeps and every version dir no kept
        manifest names."""
        m = {**m, "seq": self.seq}
        path = os.path.join(self.dir, f"v{self.seq}.json")
        with open(path + ".tmp", "w") as f:
            json.dump(m, f)
        os.replace(path + ".tmp", path)
        self.base, self.seq = m, self.seq + 1
        seqs = self._seqs()
        kept, names = self._retained(seqs)
        for old in set(seqs) - kept:
            os.remove(os.path.join(self.dir, f"v{old}.json"))
        for d, keep in names.items():
            for n in os.listdir(d) if os.path.isdir(d) else []:
                v = n.removeprefix(self.prefix)
                if v != n and v.isdigit() and int(v) not in keep:
                    shutil.rmtree(os.path.join(d, n), ignore_errors=True)

    def _retained(self, seqs: list[int]) -> tuple[set[int], dict[str, set[int]]]:
        """The kept seqs, and per dir the version numbers they name."""
        newest = self._load(seqs[-1] if seqs else -1)
        kept = {*seqs[-2:], newest["pre"]} - {-1}
        names: dict[str, set[int]] = {}
        for m in [newest, *(self._load(k) for k in kept - {newest["seq"]})]:
            for d, vs in self._names(m, m is newest).items():
                names.setdefault(d, set()).update(vs)
        return kept, names
