#!/usr/bin/env python3
"""Seeded book-review corpus for the benchmark, in tools/gen_books.py's row
shape: books_data.csv and Books_rating.csv.

Both files draw from one random.Random(seed) in exactly the order
tools/gen_books.py does, so seed 42 at 212,404 books / 3,000,000 reviews
writes the same bytes as that tool.

Usage: gen_books.py OUT_DIR SEED N_BOOKS N_REVIEWS
"""
import os
import random
import sys

BOOKS_HEADER = ("title,description,authors,image,previewLink,publisher,"
                "publishedDate,infoLink,categories,ratingsCount\n")
REVIEWS_HEADER = ("Id,Title,Price,User_id,profileName,review/helpfulness,"
                  "review/score,review/time,review/summary,review/text\n")
WORDS = [f"w{i}" for i in range(5000)]


def review_line(rnd, i, n_books):
    b = rnd.randrange(n_books)
    help_ = rnd.choice(["0/0", "", f"{rnd.randrange(30)}/{1 + rnd.randrange(30)}",
                        f"{rnd.randrange(30)}/{1 + rnd.randrange(30)}"])
    score = "garbage" if rnd.random() < 0.08 else str(1 + rnd.randrange(5))
    t = 1_000_000_000 + rnd.randrange(600_000_000)
    text = " ".join(rnd.choice(WORDS) for _ in range(20))
    return (f"{i},Book {b},,u{rnd.randrange(400000)},Name {i},{help_},{score},"
            f"{t},summary {i},{text}\n")


def write_books(path, rnd, n_books):
    with open(path, "w") as f:
        f.write(BOOKS_HEADER)
        for i in range(n_books):
            authors = "', '".join(f"Author {rnd.randrange(50000)}"
                                  for _ in range(1 + (i % 3 == 0)))
            cats = "', '".join(f"Cat{rnd.randrange(30)}"
                               for _ in range(1 + (i % 5 == 0)))
            img = "garbage" if rnd.random() < 0.03 else f"http://img/{i}"
            date = (str(1950 + rnd.randrange(70)) if rnd.random() < 0.25
                    else f"{1950 + rnd.randrange(70)}-{1 + rnd.randrange(9):02d}"
                         f"-{1 + rnd.randrange(27):02d}")
            rc = "bad" if rnd.random() < 0.05 else str(rnd.randrange(9000))
            desc = " ".join(rnd.choice(WORDS) for _ in range(12))
            f.write(f"Book {i},{desc},\"['{authors}']\",{img},http://prev/{i},"
                    f"Pub{i % 2000},{date},http://info/{i},\"['{cats}']\",{rc}\n")


def write_reviews(path, rnd, n_books, first_id, n):
    with open(path, "w") as f:
        f.write(REVIEWS_HEADER)
        for i in range(first_id, first_id + n):
            f.write(review_line(rnd, i, n_books))


def _once(out, write):
    """Run `write(out)` unless a complete copy is already in `out`."""
    ready = os.path.join(out, "_READY")
    if not os.path.exists(ready):
        os.makedirs(out, exist_ok=True)
        write(out)
        open(ready, "w").close()
    return out


def generate(out, seed, n_books, n_reviews):
    """books_data.csv and Books_rating.csv."""
    def write(d):
        rnd = random.Random(seed)
        write_books(os.path.join(d, "books_data.csv"), rnd, n_books)
        write_reviews(os.path.join(d, "Books_rating.csv"), rnd, n_books, 0, n_reviews)
    return _once(out, write)


if __name__ == "__main__":
    a = sys.argv[1:]
    generate(a[0], *map(int, a[1:4]))
