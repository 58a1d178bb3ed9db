"""Seeded Markdown vault generator and the benchmark's own model of it.

The vault follows the reference benchmark schema (FIXTURES.md section 2):
`title`, `date`, `tags` (3 of 8), `draft`, `priority`, three `prop_N`
extras and a 200-character body, spread over 20 subdirectories. A few
notes carry no frontmatter and a few carry malformed YAML.

`Model` mirrors what the engine should report for the vault: the `files`
table as the engine serializes it (every value a string, arrays as JSON),
updated in place as the benchmark applies writes. Every expected answer
the benchmark checks a tool response against is computed from it.
"""
import json
import os
import random
import string

TAGS = ["python", "mcp", "duckdb", "markdown", "obsidian", "notes", "api", "cli"]
SUBDIRS = 20
# Notes whose name starts with `g<NN>_` form 100 write groups of about 1%
# of the vault each; a batch write targets one group through its glob.
GROUPS = 100
PLAIN_EVERY = 250    # every 250th note has no frontmatter
BROKEN_EVERY = 333   # every 333rd note has malformed YAML


def _word(rng, n):
    return "".join(rng.choice(string.ascii_lowercase) for _ in range(n))


def _body(rng):
    # 200 characters of lowercase words: the embedding input, unique per note
    words, size = [], 0
    while size < 200:
        w = _word(rng, rng.randint(3, 9))
        words.append(w)
        size += len(w) + 1
    return " ".join(words)[:200].strip()


class Note:
    __slots__ = ("path", "kind", "fm", "content")

    def __init__(self, path, kind, fm, content):
        self.path = path        # relative, unix separators
        self.kind = kind        # "fm" | "plain" | "broken"
        self.fm = fm            # frontmatter as the engine serializes it; arrays as lists
        self.content = content  # body text after the frontmatter


def generate(root, n_notes, seed):
    """Write `n_notes` notes under `root` and return the model of them."""
    rng = random.Random(seed)
    notes = []
    for i in range(n_notes):
        sub = f"d{i % SUBDIRS:02d}"
        title = _word(rng, 20)
        content = f"# {title}\n\n{_body(rng)}"
        if i % PLAIN_EVERY == PLAIN_EVERY - 1:
            rel = f"{sub}/plain_{i:05d}.md"
            text = content + "\n"
            notes.append(Note(rel, "plain", {}, content))
        elif i % BROKEN_EVERY == BROKEN_EVERY - 1:
            rel = f"{sub}/broken_{i:05d}.md"
            text = f"---\ninvalid: yaml: [\n---\n\n{content}\n"
            notes.append(Note(rel, "broken", {}, content))
        else:
            rel = f"{sub}/g{i % GROUPS:02d}_note_{i:05d}.md"
            date = f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
            tags = rng.sample(TAGS, 3)
            draft = rng.random() < 0.5
            priority = rng.randint(1, 5)
            props = [_word(rng, 15) for _ in range(3)]
            lines = ["---", f"title: {title}", f"date: {date}",
                     "tags:"] + [f"- {t}" for t in tags] + [
                     f"draft: {'true' if draft else 'false'}",
                     f"priority: {priority}"] + [
                     f"prop_{k}: {v}" for k, v in enumerate(props)] + ["---"]
            text = "\n".join(lines) + f"\n\n{content}\n"
            fm = {"title": title, "date": date, "tags": list(tags),
                  "draft": "True" if draft else "False",
                  "priority": str(priority)}
            fm.update({f"prop_{k}": v for k, v in enumerate(props)})
            notes.append(Note(rel, "fm", fm, content))
        full = os.path.join(root, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "w", encoding="utf-8") as f:
            f.write(text)
    return Model(notes)


class Model:
    def __init__(self, notes):
        self.notes = sorted(notes, key=lambda n: n.path)

    # ---- globs the workload uses --------------------------------------
    def match(self, glob):
        if glob == "**/*.md":
            return list(self.notes)
        if glob.startswith("**/g") and glob.endswith("_*.md"):
            prefix = glob[len("**/"):-len("*.md")]
            return [n for n in self.notes if os.path.basename(n.path).startswith(prefix)]
        raise ValueError(glob)

    def records(self, glob):
        """Rows of the `files` table for `glob`: parseable notes only."""
        out = []
        for n in self.match(glob):
            if n.kind == "broken":
                continue
            rec = {"path": n.path}
            for k, v in n.fm.items():
                # arrays serialize the way Python's json.dumps writes them
                rec[k] = json.dumps(v) if isinstance(v, list) else v
            out.append(rec)
        return out

    def warnings(self, glob):
        return sorted(n.path for n in self.match(glob) if n.kind == "broken")

    def columns(self, glob):
        keys = set()
        for r in self.records(glob):
            keys.update(r)
        keys.discard("path")
        return ["path"] + sorted(keys)

    # ---- writes ------------------------------------------------------
    def apply_write(self, tool, args):
        """Apply one batch tool to the model; return the files it updates."""
        glob, prop = args["glob"], args.get("property")
        updated = []
        for n in self.match(glob):
            if n.kind != "fm":
                continue
            if tool == "batch_update":
                n.fm.update(args["set"])
                updated.append(n.path)
                continue
            arr = n.fm.get(prop)
            if tool == "batch_array_add":
                if arr is None:
                    n.fm[prop] = [args["value"]]
                elif args.get("allow_duplicates") or args["value"] not in arr:
                    arr.append(args["value"])
                else:
                    continue
            elif tool == "batch_array_remove":
                if arr is None or args["value"] not in arr:
                    continue
                arr.remove(args["value"])  # first occurrence, like list.remove
            elif tool == "batch_array_replace":
                if arr is None or args["old_value"] not in arr:
                    continue
                arr[arr.index(args["old_value"])] = args["new_value"]
            elif tool == "batch_array_sort":
                if arr is None or len(arr) <= 1 or arr == sorted(arr):
                    continue
                n.fm[prop] = sorted(arr)
            elif tool == "batch_array_unique":
                unique = list(dict.fromkeys(arr or []))
                if arr is None or len(arr) <= 1 or len(unique) == len(arr):
                    continue
                n.fm[prop] = unique
            updated.append(n.path)
        return updated
