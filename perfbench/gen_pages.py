"""Seeded TMDB-shaped page corpus for the backfill workload.

Writes one directory per calendar month, `<root>/<start>_<end>/`, holding
`page-NNNN.json` files of 20 JSON lines each, the discover feed's page size.
The same seed always gives the same bytes. Per row, roughly:

- 10% exact repeats of a row already on an earlier page of the same month;
- 5% re-listings of an id first seen in an earlier month, with a changed
  `vote_count` and `popularity` (the earliest month must win);
- 5% carry a genre id outside the genre map (normalize falls back to
  `str(id)`);
- 10% have a null `poster_path`.

Each month gets between 5 and 25 pages. The counts are a seeded shuffle
of fixed values, done separately for the months a resume keeps (1..18) and
the months it re-extracts (19..24), so every seed gives the cold run and the
resume the same total number of pages.

Alongside the pages it writes `expected.csv`, the `(tmdb_id, vote_count)`
pair of every distinct id as first seen (the earliest-month survivor), and
returns the corpus statistics.
"""
import calendar
import datetime
import json
import os
import random

PAGE_ROWS = 20
GENRES = {28: "Action", 12: "Adventure", 16: "Animation", 35: "Comedy",
          80: "Crime", 18: "Drama", 27: "Horror", 10749: "Romance",
          878: "Science Fiction", 53: "Thriller"}
UNMAPPED_GENRES = [9999, 10770, 37]
LANGS = ["en", "fr", "de", "es", "ja", "ko", "it"]
WORDS = ("a young detective must face an ancient secret while the city "
         "sleeps and two rivals learn that family is the last frontier").split()


def months(first, count):
    y, m = first
    for _ in range(count):
        last = calendar.monthrange(y, m)[1]
        yield datetime.date(y, m, 1), datetime.date(y, m, last)
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)


def movie(rng, mid, start, end):
    genres = rng.sample(sorted(GENRES), rng.randint(1, 3))
    if rng.random() < 0.05:
        genres.append(rng.choice(UNMAPPED_GENRES))
    day = start + datetime.timedelta(days=rng.randrange((end - start).days + 1))
    return {
        "id": mid,
        "title": f"Movie {mid}",
        "original_title": f"Original {mid}",
        "release_date": day.isoformat(),
        "genre_ids": genres,
        "vote_average": round(rng.uniform(1, 10), 1),
        "vote_count": rng.randint(0, 20000),
        "popularity": round(rng.uniform(0.5, 500), 3),
        "original_language": rng.choice(LANGS),
        "overview": " ".join(rng.choice(WORDS) for _ in range(rng.randint(6, 18))),
        "poster_path": None if rng.random() < 0.10 else f"/p{mid}.jpg",
    }


def page_counts(rng, groups, lo, hi):
    counts = []
    for k in groups:
        g = [round(lo + (hi - lo) * i / max(k - 1, 1)) for i in range(k)]
        rng.shuffle(g)
        counts += g
    return counts


def generate(seed, root, first=(2021, 1), groups=(18, 6), pages=(5, 25)):
    rng = random.Random(seed)
    counts = page_counts(rng, groups, *pages)
    first_seen = {}  # id -> vote_count of its first listing
    earlier_ids = []  # ids first listed in a previous month
    next_id = 1000
    rows = input_bytes = n_pages = 0
    for (start, end), n in zip(months(first, len(counts)), counts):
        mdir = os.path.join(root, f"{start}_{end}")
        os.makedirs(mdir)
        this_month = []
        new_ids = []
        for p in range(n):
            lines = []
            for _ in range(PAGE_ROWS):
                r = rng.random()
                if r < 0.10 and this_month:
                    rec = rng.choice(this_month)
                elif r < 0.15 and earlier_ids:
                    rec = movie(rng, rng.choice(earlier_ids), start, end)
                    this_month.append(rec)
                else:
                    rec = movie(rng, next_id, start, end)
                    first_seen[next_id] = rec["vote_count"]
                    new_ids.append(next_id)
                    next_id += 1
                    this_month.append(rec)
                lines.append(json.dumps(rec, separators=(",", ":")))
            data = ("\n".join(lines) + "\n").encode()
            with open(os.path.join(mdir, f"page-{p + 1:04d}.json"), "wb") as f:
                f.write(data)
            input_bytes += len(data)
            rows += len(lines)
        n_pages += n
        earlier_ids.extend(new_ids)
    with open(os.path.join(root, "expected.csv"), "w") as f:
        for mid in sorted(first_seen):
            f.write(f"{mid},{first_seen[mid]}\n")
    return {"rows": rows, "pages": n_pages, "distinct": len(first_seen),
            "input_bytes": input_bytes,
            "genres": ",".join(f"{k}:{v}" for k, v in sorted(GENRES.items()))}
