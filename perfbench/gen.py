"""Seeded input generators for the benchmark.

covid_csv(): a county x date grid in the 14-column source-CSV layout
(graft.covid.CovidSchema.csvSchema), with edge rows at fixed shares, plus
the expected pipeline results computed here from the generated ground
truth, without running any of the program's transform code.

corpus(): a documents/embeddings corpus in the measured shape of the sf0.1
testdata tables the LLM data-prep operators read, at a smaller size.
"""
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HEADER = [
    "REPORT_DATE", "PROVINCE_STATE_NAME", "COUNTY_NAME",
    "PEOPLE_POSITIVE_NEW_CASES_COUNT", "PEOPLE_DEATH_NEW_COUNT",
    "COUNTRY_SHORT_NAME", "COUNTRY_ALPHA_3_CODE", "COUNTRY_ALPHA_2_CODE",
    "CONTINENT_NAME", "COUNTY_FIPS_NUMBER", "PEOPLE_POSITIVE_CASES_COUNT",
    "PEOPLE_DEATH_COUNT", "REPORT_DATE_ISO", "DATA_SOURCE_NAME"]

STATES = [
    "Alabama", "Alaska", "Arizona", "Arkansas", "California", "Colorado",
    "Connecticut", "Delaware", "Florida", "Georgia", "Hawaii", "Idaho",
    "Illinois", "Indiana", "Iowa", "Kansas", "Kentucky", "Louisiana", "Maine",
    "Maryland", "Massachusetts", "Michigan", "Minnesota", "Mississippi",
    "Missouri", "Montana", "Nebraska", "Nevada", "New Hampshire",
    "New Jersey", "New Mexico", "New York", "North Carolina", "North Dakota",
    "Ohio", "Oklahoma", "Oregon", "Pennsylvania", "Rhode Island",
    "South Carolina", "South Dakota", "Tennessee", "Texas", "Utah", "Vermont",
    "Virginia", "Washington", "West Virginia", "Wisconsin", "Wyoming"]

SYLLABLES = ["al", "ber", "cal", "dor", "el", "fa", "gran", "hol", "is",
             "jen", "kel", "lor", "mar", "nor", "os", "pel", "quin", "ros",
             "san", "tor", "ul", "ver", "wil", "yor", "zan"]

# Edge-row shares (per generated row).
SHARE_VARIANT = 0.04     # whitespace / case variants of names and dates
SHARE_TRUNCATED = 0.01   # trailing count fields missing -> 0
SHARE_EMPTY = 0.01       # empty count field -> 0 (CSV edge: empty == missing)
SHARE_NONNUMERIC = 0.01  # unparseable count -> row dropped
SHARE_DUPLICATE = 0.01   # second row with the same (date, state, county)
APOSTROPHE_EVERY = 40    # every 40th county is an apostrophe name


def canonical(name):
    """The warehouse form of a name: each space-separated word gets an upper
    first letter and lower-case rest (so "O'BRIEN" -> "O'brien")."""
    return " ".join(w[:1].upper() + w[1:].lower() for w in name.strip().split(" "))


def _county_names(rng, n):
    names, seen = [], set()
    while len(names) < n:
        word = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 3)))
        if len(names) % APOSTROPHE_EVERY == 1:
            word = "o'" + word
        name = canonical(("lake " if rng.random() < 0.1 else "") + word)
        if name not in seen:
            seen.add(name)
            names.append(name)
    return names


def _variant(rng, s):
    return rng.choice([" " + s, s + "  ", s.upper(), s.lower(), " " + s.lower() + " "])


def covid_csv(path, expected_path, seed, counties, dates, start="2020-03-01"):
    """Write the CSV at `path` and the expectations at `expected_path`.

    Expected-file lines (tab-separated), in date order:
      D date extracted loaded   rows in the CSV for that date / rows the
                                warehouse must hold for it
      C date county cases       sum of new_cases that date, per county
      S date state deaths       sum of new_deaths that date, per state
      O date state county       the first 2,000 warehouse keys in
                                (date, state, county) order
    """
    import datetime
    rng = random.Random(seed)
    day0 = datetime.date.fromisoformat(start)
    days = [(day0 + datetime.timedelta(d)).isoformat() for d in range(dates)]
    names = _county_names(rng, counties)
    homes = [STATES[i % len(STATES)] for i in range(counties)]
    cum = [[0, 0] for _ in range(counties)]

    rows = []  # (date, csv line)
    per_date = {}  # date -> [extracted, loaded, {county: cases}, {state: deaths}]
    keys = []
    for di, day in enumerate(days):
        exp = per_date.setdefault(day, [0, 0, {}, {}])
        want_keys = len(keys) < 2000
        for ci in range(counties):
            copies = 2 if rng.random() < SHARE_DUPLICATE else 1
            for _ in range(copies):
                cases, deaths = rng.randint(0, 400), rng.randint(0, 12)
                cum[ci][0] += cases
                cum[ci][1] += deaths
                f = [day, homes[ci], names[ci], str(cases), str(deaths),
                     "United States", "USA", "US", "America", str(1000 + ci),
                     str(cum[ci][0]), str(cum[ci][1]), day + "T00:00:00Z", "JHU"]
                r = rng.random()
                keep = True
                if r < SHARE_VARIANT:
                    f[0], f[1], f[2] = (day if rng.random() < 0.5 else " " + day + " ",
                                        _variant(rng, f[1]), _variant(rng, f[2]))
                elif r < SHARE_VARIANT + SHARE_TRUNCATED:
                    cut = rng.choice([3, 4])
                    f = f[:cut]
                    cases = cases if cut > 3 else 0
                    deaths = 0
                elif r < SHARE_VARIANT + SHARE_TRUNCATED + SHARE_EMPTY:
                    i = rng.choice([3, 4])
                    f[i] = ""
                    cases, deaths = (0, deaths) if i == 3 else (cases, 0)
                elif r < SHARE_VARIANT + SHARE_TRUNCATED + SHARE_EMPTY + SHARE_NONNUMERIC:
                    f[rng.choice([3, 4])] = rng.choice(["n/a", "12.5", "abc", "1e3"])
                    keep = False
                rows.append((di, ",".join(f)))
                exp[0] += 1
                if keep:
                    exp[1] += 1
                    exp[2][names[ci]] = exp[2].get(names[ci], 0) + cases
                    exp[3][homes[ci]] = exp[3].get(homes[ci], 0) + deaths
                    if want_keys:
                        keys.append((day, homes[ci], names[ci]))

    # Reports arrive out of order: shuffle within blocks of seven days.
    rng.shuffle(rows)
    rows.sort(key=lambda r: r[0] // 7)
    with open(path, "w") as out:
        out.write(",".join(HEADER) + "\n")
        out.writelines(line + "\n" for _, line in rows)

    with open(expected_path, "w") as out:
        for day in days:
            ext, loaded, cases, deaths = per_date[day]
            out.write(f"D\t{day}\t{ext}\t{loaded}\n")
            out.writelines(f"C\t{day}\t{k}\t{v}\n" for k, v in sorted(cases.items()))
            out.writelines(f"S\t{day}\t{k}\t{v}\n" for k, v in sorted(deaths.items()))
        out.writelines(f"O\t{d}\t{s}\t{c}\n" for d, s, c in sorted(keys)[:2000])


# The shape of the sf0.1 testdata corpus, as measured on its
# documents/embeddings tables: 5,000 documents of 10..100 words drawn
# uniformly from 30 words (each word equally often); 250 of them (1 in 20)
# are exact copies of another document with " dup" appended; languages in
# the counts below; source src<doc_id mod 20>. 2,000 embeddings: isotropic
# unit-normal 64-d float32, labels uniform in 0..9.
SF01_DOCS = 5000
SF01_WORDS = ["the", "a", "agg", "batch", "big", "column", "customer", "data",
              "fast", "filter", "group", "hash", "join", "key", "line", "merge",
              "order", "part", "query", "row", "scan", "slow", "small", "sort",
              "spark", "stream", "table", "value", "vector", "window"]
SF01_DUP_SHARE = 250 / 5000
SF01_LANGS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}


def vocabulary(docs):
    """sf0.1's words, cut to keep sf0.1's shingle statistics at `docs`
    documents. The operators' pair counts (Jaccard candidates are a sum of
    squared shingle document frequencies) depend on how full the
    trigram-shingle space is: sf0.1 puts 5,000 documents into 30^3
    shingles, a mean document frequency of ~9.6. A smaller corpus keeps
    that fill with a vocabulary cut by the cube root of its size, the
    inverse of what tools/gen_sf1.py does to grow it. The stopwords stay.
    """
    k = round(len(SF01_WORDS) * (docs / SF01_DOCS) ** (1 / 3))
    return SF01_WORDS[:max(8, min(len(SF01_WORDS), k))]


def corpus(out_dir, seed, docs, vectors, dim=64, labels=10):
    """documents.parquet and embeddings.parquet under `out_dir`, in the
    shape of sf0.1 (see above) at `docs` documents and `vectors` vectors."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(docs)
    lens = rng.integers(10, 101, docs)
    words = rng.integers(0, len(vocab), lens.sum())
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(vocab[w] for w in words[pos:pos + n]))
        pos += n
    dups = rng.choice(docs, round(docs * SF01_DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(docs), dups)
    for d in dups:
        texts[d] = texts[rng.choice(originals)] + " dup"
    langs = list(SF01_LANGS)
    p = np.array([SF01_LANGS[x] for x in langs], dtype=float)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(langs, docs, p=p / p.sum()), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")

    vecs = rng.standard_normal((vectors, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(vectors), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, labels, vectors).astype(np.int32), pa.int32()),
    }), f"{out_dir}/embeddings.parquet")
