"""Seeded article-corpus generator for the article_pipeline workload.

Every record belongs to exactly one funnel class, so the generator knows the
funnel the pipeline must report:

  incomplete  a required field (title, content, url) is null or blank
  duplicate   a later copy of an earlier valid record (same cleaned title+url)
  failed      complete and unique, but fails validation
  passed      complete, unique and valid

The class shares are the reference fixture's funnel (FIXTURES.md sections 2
and 4; the golden quality report in src/test/resources): of its 17 records, 4
are incomplete, 2 are duplicates, 4 fail validation and 7 pass. The kinds
within a class follow the fixture too: its incomplete records are a null
title, a blank title, an empty content and a null url; its failures are two
short contents and two bad urls. The catalog below keeps at least one record
of every adversarial case of FIXTURES.md section 2 and every date format of
its date corpus (section 3). Bad dates ride only on records that fail for
another reason, so whether a date parses never changes the funnel.

The fixture's passing contents are not recorded in the repository, so the
content of a valid record is a text of the repository's own `documents` test
table (perfbench/data/sf0.01), keeping those of at least 120 characters, the
validator's minimum that every fixture record passing validation meets.
"""

import json
import os
import random

import pyarrow.parquet as pq

# The fixture's funnel, per 17 records; the corpus size is a multiple of 17.
FIXTURE_RECORDS = 17
FIXTURE_INCOMPLETE = 4
FIXTURE_DUPLICATES = 2
FIXTURE_FAILED = 4
MIN_CONTENT_CHARS = 120
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "data", "sf0.01", "documents.parquet")

GOOD_DATES = [
    "2025-02-20T14:30:00Z", "Jan 15, 2025", "Aug 1, 2025", "May 5, 2025",
    "March 1, 2025", "August 10, 2025", "June 15, 2025", "15/03/2025",
    "July 1st, 2025", "Sept 15, 2025",
]
BAD_DATES = ["2025-13-99", "13/14/2025", "2025-02-29", "", "none", "null", "nan"]

# Titles with the fixture's whitespace and HTML-entity cases.
TITLE_FORMS = [
    "  AI &amp; Machine Learning {k}  ",
    "Climate&nbsp;Change &amp; Sustainability {k}",
    "Healthcare &lt;Tech&gt; Trends {k}",
    "Python &gt; Other Languages? {k}",
    "Market Update {k}",
    "\tLocal News Roundup {k}\n",
]
CATEGORIES = ["Technology", "Science", "Business", "Health", "World", None]
AUTHORS = ["Jane Doe", "John Smith", "  A. Writer ", None, "Li Wei"]

INCOMPLETE_KINDS = ["null_title", "blank_title", "empty_content", "null_url"]
FAILED_KINDS = ["short_content", "invalid_url", "brief_content", "ftp_url"]


def _texts():
    texts = pq.read_table(DOCUMENTS, columns=["text"]).column("text").to_pylist()
    return [t for t in texts if t and len(t.strip()) >= MIN_CONTENT_CHARS]


def _valid(rng, seed, i, texts, published=GOOD_DATES[0]):
    return {
        "title": rng.choice(TITLE_FORMS).format(k=i),
        "content": rng.choice(texts).capitalize() + ".",
        "url": f"{rng.choice(['https', 'http'])}://news.example.com/{seed}/{i}",
        "published": published,
        "category": rng.choice(CATEGORIES),
        "author": rng.choice(AUTHORS),
    }


def _incomplete(rng, seed, i, texts, kind):
    rec = _valid(rng, seed, i, texts)
    if kind == "null_title":
        rec["title"] = None
    elif kind == "blank_title":
        rec["title"] = "   "
    elif kind == "empty_content":
        rec["content"] = ""
    else:
        rec["url"] = None
    return rec


def _failed(rng, seed, i, texts, kind, published):
    rec = _valid(rng, seed, i, texts, published)
    if kind == "short_content":
        rec["content"] = "Short content"
    elif kind == "brief_content":
        rec["content"] = "Brief."
    elif kind == "ftp_url":
        rec["url"] = f"ftp://files.example.com/{seed}/{i}"
    else:
        rec["url"] = f"invalid-url-{seed}-{i}"
    return rec


def generate(seed, n):
    """Returns (records, funnel) for a corpus of `n` articles, a multiple of 17."""
    assert n % FIXTURE_RECORDS == 0, "the corpus size must be a multiple of 17"
    rng = random.Random(seed)
    texts = _texts()
    scale = n // FIXTURE_RECORDS
    n_inc = FIXTURE_INCOMPLETE * scale
    n_dup = FIXTURE_DUPLICATES * scale
    n_fail = FIXTURE_FAILED * scale
    n_pass = n - n_inc - n_dup - n_fail
    classes = (["incomplete"] * n_inc + ["duplicate"] * n_dup
               + ["failed"] * n_fail + ["passed"] * n_pass)
    # The first record is always valid, so every duplicate has an original.
    rest = classes[:]
    rest.remove("passed")
    rng.shuffle(rest)
    classes = ["passed"] + rest

    # Kinds and dates cycle per class, so each appears once the class is
    # as large as its list.
    records, valid, seen = [], [], {}
    for i, cls in enumerate(classes):
        k = seen.get(cls, 0)
        seen[cls] = k + 1
        if cls == "passed":
            rec = _valid(rng, seed, i, texts, GOOD_DATES[k % len(GOOD_DATES)])
            valid.append(rec)
        elif cls == "duplicate":
            rec = dict(rng.choice(valid))
        elif cls == "incomplete":
            rec = _incomplete(rng, seed, i, texts, INCOMPLETE_KINDS[k % len(INCOMPLETE_KINDS)])
        else:
            rec = _failed(rng, seed, i, texts, FAILED_KINDS[k % len(FAILED_KINDS)],
                          BAD_DATES[k % len(BAD_DATES)])
        records.append(rec)
    funnel = {"loaded": n, "incomplete": n_inc, "duplicates": n_dup,
              "passed": n_pass, "failed": n_fail}
    return records, funnel


def write(path, records):
    """One JSON array, one record per line (the reference's input envelope)."""
    with open(path, "w", encoding="utf-8") as f:
        f.write("[\n")
        f.write(",\n".join(json.dumps(r, ensure_ascii=False) for r in records))
        f.write("\n]\n")
