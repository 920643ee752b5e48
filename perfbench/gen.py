"""Deterministic, seeded IPL season generator for the benchmark.

Extends the no-RNG-state LCG of `graft.Fixtures.seasonRows` to an N-team
double round robin x 20 overs. Every random draw comes from an LCG seeded by
(seed, match number), so a seed fixes every byte written.

Inputs the program reads (reference scrape schema). Every scrape CSV
carries re-scrape duplicate rows (same delivery, later extract_time)
right after their original:
  meta.json                JSON array of per-match metadata; some toss
                           winners are misspelled or token-reordered
  players.ndjson           the players catalog (Name, Team, ...)
  stream/preload/*.csv     match_stream: final scrapes the store starts with
  stream/snap/*.csv        match_stream: cumulative per-match snapshots
  stream.json              match_stream: landing order of the snapshots,
                           including late re-scrapes of older ones

Ground truth the benchmark checks against (never shown to the program):
  truth.json               per store state: unique deliveries, per-team
                           runs / wickets / results / points, per-batsman
                           runs; and the catalog names

Raw player names are misspelled, token-reordered or abbreviated on a
share of rows, so FuzzyNames does real work; the sidecar is keyed by the
catalog names, so a wrong normalization fails the gold check.
"""
import json
import os
import sys

MASK = (1 << 64) - 1

TEAMS = [
    "Mumbai Mavericks", "Chennai Chargers", "Kolkata Knights",
    "Delhi Daredevils", "Punjab Panthers", "Rajasthan Royals",
    "Bangalore Blasters", "Hyderabad Hawks", "Lucknow Lions",
    "Gujarat Giants",
]
FIRST = [
    "Aarav", "Bhuvan", "Chetan", "Dhruv", "Eshan", "Farhan", "Gautam",
    "Harish", "Ishaan", "Jatin", "Kunal", "Lakshay", "Manish", "Nikhil",
    "Omkar", "Pranav", "Rahul", "Sanjay", "Tarun", "Umesh", "Varun",
    "Yashpal", "Zubair", "Abhinav", "Devdutt", "Mayank", "Shreyas",
    "Ruturaj", "Venkatesh", "Prithvi",
]
LAST = [
    "Agarwal", "Bhandari", "Chaudhary", "Deshpande", "Easwaran",
    "Fernandes", "Gaikwad", "Hegde", "Iyengar", "Jadhav", "Kulkarni",
    "Lokhande", "Mahajan", "Nadkarni", "Oberoi", "Padmanabhan", "Qureshi",
    "Rajput", "Saxena", "Thakur", "Upadhyay", "Vaidya", "Wadekar",
    "Yadavalli", "Zaveri", "Acharya", "Banerjee", "Chatterjee", "Dasgupta",
    "Ganguly", "Holkar", "Inamdar", "Joshi", "Kapoor", "Lalwani", "Malhotra",
    "Naidu", "Pillai", "Rathore", "Sehgal", "Tendulkar", "Venkataraman",
    "Bhattacharya", "Chandrasekhar", "Dharmadhikari", "Gavaskar",
    "Hazare", "Khandekar", "Mankad", "Narayanan", "Parthasarathy",
    "Rangachari", "Sivaramakrishnan", "Tamhane", "Umrigar", "Vengsarkar",
    "Amarnath", "Bedi", "Contractor", "Durani", "Engineer", "Gupte",
    "Jaisimha", "Kirmani", "Manjrekar", "Nayudu", "Prasanna", "Ramchand",
    "Sardesai", "Solkar", "Srikkanth", "Vishwanath", "Wankhede",
    "Abhyankar", "Bapat", "Chitnis", "Dongre", "Gokhale", "Hardikar",
    "Jog", "Karandikar", "Limaye", "Mulgaokar", "Nene", "Paranjpe",
    "Ranade", "Sathe", "Tilak", "Vartak", "Apte", "Bhave", "Chiplunkar",
    "Datar", "Ghaisas", "Khare", "Lele", "Marathe", "Oak", "Phadke",
    "Rege", "Sahasrabuddhe", "Tulpule", "Welankar", "Athavale", "Bivalkar",
    "Damle", "Gadgil", "Joglekar", "Kelkar", "Mokashi", "Natu", "Pendse",
    "Ramdasi", "Sovani", "Thatte", "Vaze", "Ambekar", "Bhagwat", "Dandekar",
    "Godbole", "Kanitkar", "Lagu", "Modak", "Nimkar", "Patwardhan",
    "Rajwade", "Shevade", "Tembe", "Vaishampayan", "Walimbe", "Barve",
    "Chaphekar", "Deodhar", "Gharpure", "Kale", "Mhaskar", "Palsule",
]
SQUAD = 13
RUN_WORDS = ["no run", "1 run", "2 runs", "3 runs", "four", "5 runs", "six"]
RUN_OF = {w: i for i, w in enumerate(RUN_WORDS)}
# weighted ball outcomes for a legal, non-wicket delivery
LEGAL = ["no run"] * 8 + ["1 run"] * 7 + ["2 runs"] * 2 + ["3 runs"] + \
    ["four"] * 3 + ["six"] * 2
WICKETS = ["out Bowled", "out Caught", "out LBW", "out Stumped"]
TOSS_DECISIONS = ["bat first", "bowl first", "elected to bat",
                  "chose to field"]


class Lcg:
    """The Fixtures LCG: state is one 64-bit word, no library RNG."""

    def __init__(self, seed):
        self.s = seed & MASK

    def next(self, n):
        self.s = (self.s * 6364136223846793005 + 1442695040888963407) & MASK
        return (self.s >> 33) % n


def catalog(n_teams):
    """13 players per team with catalog-unique surnames."""
    rng = Lcg(0x1F1)
    squads = {}
    li = 0
    for t in range(n_teams):
        names = []
        for i in range(SQUAD):
            names.append(f"{FIRST[(t * 7 + i * 3) % len(FIRST)]} {LAST[li]}")
            li += 1
        squads[TEAMS[t]] = names
    roles = ["Batter", "Bowler", "All-Rounder", "Wicket-Keeper"]
    players = []
    for team, names in squads.items():
        for i, n in enumerate(names):
            players.append({"Name": n, "Team": team, "Country": "India",
                            "Role": roles[rng.next(4)], "Keeper": i == 6})
    return squads, players


def variant(name, rng):
    """A misspelled, token-reordered or abbreviated raw form of `name`."""
    first, last = name.split(" ", 1)
    k = rng.next(3)
    if k == 0:
        return f"{last} {first}"
    if k == 1:
        return f"{first[0]} {last}"
    i = 1 + rng.next(len(last) - 2)
    c = "aeiou"[rng.next(5)]
    if last[i] == c:
        c = "y"
    return f"{first} {last[:i]}{c}{last[i + 1:]}"


def team_variant(team, rng):
    a, b = team.split(" ", 1)
    if rng.next(2) == 0:
        return f"{b} {a}"
    i = 1 + rng.next(len(a) - 2)
    return f"{a[:i]}{a[i + 1:]} {b}"


def raw_name(name, rng):
    # 1 raw row in 6 carries a noisy name
    return variant(name, rng) if rng.next(6) == 0 else name


def innings_rows(rng, bats, bowls):
    """Deliveries of one innings as (over, ball, bowler, batsman,
    ball_event, event_info, runs, extra_runs, wicket, rebowl).

    At most one re-bowled delivery per (over, ball) position, so the
    silver key (match, innings, over, ball, rebowl) is unique per real
    delivery, and the innings always ends on a legal ball, so the next
    innings' boundary is seen."""
    out = []
    striker, non_striker, nxt = 0, 1, 2
    wickets = 0
    for over in range(20):
        bowler = bowls[(over * 2 + over // 5) % 5 + SQUAD - 5]
        ball = 1
        while ball <= 6:
            extra_at_ball = rng.next(14) == 0
            if extra_at_ball:
                ev = "wide" if rng.next(3) else "no ball"
                info = ["no run", "1 run", "no run"][rng.next(3)]
                runs = RUN_OF[info]
                out.append((over, ball, bowler, bats[striker], ev, info,
                            runs, 1, 0, 1))
                if runs % 2:
                    striker, non_striker = non_striker, striker
            r = rng.next(40)
            if r == 0:
                ev = WICKETS[rng.next(len(WICKETS))]
                out.append((over, ball, bowler, bats[striker], ev, "",
                            0, 0, 1, 0))
                wickets += 1
                if wickets == 10:
                    return out
                striker = nxt
                nxt += 1
            elif r == 1:
                info = ["1 run", "no run", "2 runs"][rng.next(3)]
                out.append((over, ball, bowler, bats[striker], "leg byes",
                            info, RUN_OF[info], 0, 0, 0))
                if RUN_OF[info] % 2:
                    striker, non_striker = non_striker, striker
            else:
                ev = LEGAL[rng.next(len(LEGAL))]
                out.append((over, ball, bowler, bats[striker], ev, "",
                            RUN_OF[ev], 0, 0, 0))
                if RUN_OF[ev] % 2:
                    striker, non_striker = non_striker, striker
            ball += 1
        striker, non_striker = non_striker, striker
    return out


def make_match(seed, no, home, away, squads):
    """One match: meta row, ordered deliveries (raw rows) and truth."""
    rng = Lcg((seed * 1000003 + no * 7919) ^ 0x5DEECE66D)
    mid = f"S1M{no:04d}_{home.split()[0][:3].upper()}v{away.split()[0][:3].upper()}"
    day = f"{['Mar', 'Apr', 'May'][no % 3]} {1 + no % 28}"
    venue = f"Stadium {no % 7}"
    toss = home if rng.next(2) == 0 else away
    decision = TOSS_DECISIONS[rng.next(4)]
    toss_raw = team_variant(toss, rng) if rng.next(5) == 0 else toss
    bat_first = toss if "bat" in decision else (away if toss == home else home)
    sides = [bat_first, away if bat_first == home else home]
    meta = {"match": f"Match {no}", "short_name": mid, "home_team": home,
            "away_team": away, "date": day, "time": "19:30", "venue": venue,
            "toss_winner": toss_raw, "toss_decision": decision}
    rows = []
    truth = {"team_runs": {}, "team_wkts": {}, "bat_runs": {}}
    for inn, batting in enumerate(sides):
        bowling = sides[1 - inn]
        order = squads[batting][:]
        start = rng.next(SQUAD)
        bats = order[start:] + order[:start]
        for d in innings_rows(rng, bats[:11], squads[bowling]):
            over, ball, bowler, bat, ev, info, runs, xr, wk, rb = d
            rows.append([mid, day, "19:30", venue, str(over), str(ball),
                         raw_name(bowler, rng), raw_name(bat, rng), ev, info])
            t = truth
            t["team_runs"][batting] = t["team_runs"].get(batting, 0) + runs + xr
            t["team_wkts"][batting] = t["team_wkts"].get(batting, 0) + wk
            t["bat_runs"][bat] = t["bat_runs"].get(bat, 0) + runs
    return meta, rows, truth, sides


def write_csv(path, rows, stamp, dup_rng=None):
    """Raw scrape CSV; with dup_rng, ~5% of rows are followed by a
    re-scrape duplicate (same delivery, later extract_time)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write("match,date,time,venue,over,ball,bowler,batsman,"
                "ball_event,event_info,extract_time\n")
        for r in rows:
            line = ",".join(r)
            f.write(f"{line},{stamp}\n")
            if dup_rng is not None and dup_rng.next(20) == 0:
                f.write(f"{line},{stamp}r\n")
    os.replace(tmp, path)


def schedule(n_teams):
    """Double round robin: (match number, home, away)."""
    pairs = [(i, j) for i in range(n_teams) for j in range(n_teams) if i != j]
    return [(no, TEAMS[i], TEAMS[j]) for no, (i, j) in enumerate(pairs, 1)]


def tally(truths):
    team_runs, team_wkts, bat_runs = {}, {}, {}
    table = {}
    decided = tied = deliveries = 0
    for t, sides, n in truths:
        deliveries += n
        for k, v in t["team_runs"].items():
            team_runs[k] = team_runs.get(k, 0) + v
        for k, v in t["team_wkts"].items():
            team_wkts[k] = team_wkts.get(k, 0) + v
        for k, v in t["bat_runs"].items():
            bat_runs[k] = bat_runs.get(k, 0) + v
        a, b = sides
        ra, rb = t["team_runs"].get(a, 0), t["team_runs"].get(b, 0)
        for team in sides:
            table.setdefault(team, {"won": 0, "lost": 0, "tied": 0})
        if ra == rb:
            tied += 1
            table[a]["tied"] += 1
            table[b]["tied"] += 1
        else:
            decided += 1
            w, l = (a, b) if ra > rb else (b, a)
            table[w]["won"] += 1
            table[l]["lost"] += 1
    for v in table.values():
        v["points"] = 2 * v["won"] + v["tied"]
    return {"deliveries": deliveries, "decided": decided, "tied": tied,
            "team_runs": team_runs, "team_wkts": team_wkts,
            "bat_runs": bat_runs, "table": table}


def generate(out, seed, n_teams, preload, stream_matches):
    """One double round robin season. The store starts with its first
    `preload` matches (stream/preload), and the snapshots of the next
    `stream_matches` land in stream.json order.

    truth.json["stream"][k - 1] is the ground truth of the store once the
    first k streamed matches are complete."""
    squads, players = catalog(n_teams)
    for d in ["stream/preload", "stream/snap"]:
        os.makedirs(f"{out}/{d}", exist_ok=True)
    with open(f"{out}/players.ndjson", "w") as f:
        for p in players:
            f.write(json.dumps(p) + "\n")
    metas, landing, truths, stream_truth = [], [], [], []
    for no, home, away in schedule(n_teams):
        meta, rows, truth, sides = make_match(seed, no, home, away, squads)
        metas.append(meta)
        mid = meta["short_name"]
        if no <= preload:
            truths.append((truth, sides, len(rows)))
            write_csv(f"{out}/stream/preload/{mid}.csv", rows, "t9",
                      Lcg(seed + no))
        elif no <= preload + stream_matches:
            truths.append((truth, sides, len(rows)))
            stream_truth.append(tally(truths))
            landing += snapshots(out, mid, rows, Lcg(seed ^ no))
    with open(f"{out}/meta.json", "w") as f:
        json.dump(metas, f, indent=1)
    with open(f"{out}/stream.json", "w") as f:
        json.dump(landing, f, indent=1)
    truth = {"stream": stream_truth,
             "catalog": sorted(p["Name"] for p in players)}
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)


def snapshots(out, mid, rows, rng):
    """A cumulative snapshot at a random point of the match, the final
    one, then a late re-scrape of the first that lands after the final.
    Every snapshot is a prefix of the match's deliveries."""
    n = len(rows)
    cut = n // 3 + rng.next(n // 3)
    files = []
    for k, c in enumerate([cut, n]):
        path = f"{out}/stream/snap/{mid}_{k}.csv"
        write_csv(path, rows[:c], f"t{k}", Lcg(rng.next(1 << 30)))
        files.append(os.path.basename(path))
    return [
        {"file": files[0], "match": mid, "kind": "new", "new_rows": cut},
        {"file": files[1], "match": mid, "kind": "new", "new_rows": n - cut},
        {"file": files[0], "match": mid, "kind": "late", "new_rows": 0},
    ]


def main():
    out, seed, teams, preload, stream = sys.argv[1:6]
    generate(out, int(seed), int(teams), int(preload), int(stream))


if __name__ == "__main__":
    main()
